"""One benchmark run inside a fresh engine process.

``run.py`` starts this file as its own process, with the Spark scratch
directory and ``SPARK_GRAFT_CPUS`` set in the environment and the engine
importable from the working directory. It builds a session with the
engine's defaults, runs whole rounds of one workload until the next round
would end after ``--seconds``, writes every round's outputs as parquet
and prints one JSON line on standard output::

    python3 perfbench/engine.py --workload superstep_floor \
        --input <transcripts parquet dir> --run-dir <scratch dir> \
        --seconds 20 --trace 0 --t0 <time.monotonic() at process spawn>

Every call into the engine is timed from outside (a span). With
``--trace 1`` each span also records the diff of Spark's status store
(jobs, stages, tasks, executor run time, shuffle bytes) and of the JVM's
garbage-collector time around the call; the manifests the call committed
are read afterwards. Nothing inside the engine is changed.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import time

# PageRank superstep budgets. A 1e-6 L1 stop needs ~85 supersteps at
# d=0.85, about 55 s of checkpointed supersteps on a 4-core host even for
# a tiny graph; a round cannot hold that, so PageRank runs a fixed number
# of supersteps (tol=0) and is checked against a numpy power iteration of
# the same length. Every call of a round does the same work whatever the
# seed: fixed superstep budgets, and a BFS whose depth fits one fused
# block (one block on every seed traced). Calls that iterate to a
# seed-dependent convergence (star and hash-min connected components)
# are left out: their 4-8 supersteps made the round's wall move with
# the seed.
PR_STEPS = {"e2e_pipeline": 8, "superstep_floor": 16}
PR_INTERRUPT_AT = 8  # superstep_floor: the first PageRank instance stops here
LPA_STEPS = 3
BFS_FUSED_EVERY = 5
# BFS sources: the 'user' role vertex and the three mega-thread hubs
# (gen.MEGA_SLOTS), one in each user-thread component.
BFS_SOURCES = (("role", "user"), ("thread", "c00000010"), ("thread", "c00000011"), ("thread", "c00000012"))

WORKLOADS = ("e2e_pipeline", "superstep_floor")


def steal_s() -> float:
    """CPU time the host's hypervisor took from this machine's CPUs so far
    (the steal column of ``/proc/stat``), summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process's session:
    this process, the gateway JVM and the Python workers, live or reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    sid = os.getsid(0)
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                data = fh.read()
        except OSError:
            continue
        f = data[data.rindex(")") + 2:].split()
        if f[3] == str(sid):
            total += sum(int(x) for x in f[11:15])
    return total / tick


class Tracer:
    """Spans around engine calls: wall always; status-store and GC diffs
    when ``deep``."""

    def __init__(self, spark, deep: bool):
        self.spark = spark
        self.deep = deep
        self.spans: list[dict] = []
        if deep:
            sc = spark.sparkContext
            self._store = sc._jsc.sc().statusStore()
            self._jvm = spark._jvm
            self._gw = sc._gateway
            self._last_stage = self._max_stage()

    def _max_stage(self) -> int:
        seq = self._stage_list()
        return max((seq.apply(i).stageId() for i in range(seq.size())), default=-1)

    def _stage_list(self):
        jl = self._jvm.java.util.ArrayList
        return self._store.stageList(jl(), False, False, self._gw.new_array(self._jvm.double, 0), jl())

    def _jobs(self) -> int:
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup()
        return max(ids, default=-1)

    def _gc_ms(self) -> int:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    def _new_stages(self) -> dict:
        """Sum the stages completed since the last call (the store lists
        stages newest first)."""
        seq = self._stage_list()
        out = {"stages": 0, "tasks": 0, "executor_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0}
        top = self._last_stage
        for i in range(seq.size()):
            st = seq.apply(i)
            sid = st.stageId()
            if sid <= self._last_stage:
                break
            top = max(top, sid)
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_ms"] += st.executorRunTime()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
        self._last_stage = top
        return out

    def span(self, name: str):
        return _Span(self, name)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.rec = {"name": name}

    def __enter__(self):
        if self.t.deep:
            self._jobs0, self._gc0 = self.t._jobs(), self.t._gc_ms()
            self.t._new_stages()
        self._cpu = session_cpu_s()
        self._start = time.monotonic()
        return self.rec

    def __exit__(self, *exc):
        end = time.monotonic()
        self.rec["s"] = end - self._start
        self.rec["cpu_s"] = session_cpu_s() - self._cpu
        if self.t.deep and exc[0] is None:
            self.rec["jobs"] = self.t._jobs() - self._jobs0
            self.rec["gc_ms"] = self.t._gc_ms() - self._gc0
            self.rec.update(self.t._new_stages())
        self.t.spans.append(self.rec)
        return False


def manifest_paths(ckpt_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(ckpt_dir, "*", "manifest_*.json")))


def manifests(ckpt_dir: str) -> list[dict]:
    out = []
    for p in manifest_paths(ckpt_dir):
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def manifest_mtimes(ckpt_dir: str) -> dict[int, int]:
    """Committed superstep -> modification time (ns) of its manifest."""
    return {int(p[-10:-5]): os.stat(p).st_mtime_ns for p in manifest_paths(ckpt_dir)}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**"), recursive=True) if os.path.isfile(f))


def _write(df, path: str) -> None:
    df.write.mode("error").parquet(path)


def run_round(spark, workload: str, input_dir: str, rdir: str, tr: Tracer) -> dict:
    """One whole round of ``workload``: extraction, then the workload's
    graph calls, each writing its output under ``rdir/out``."""
    from pyspark.sql import functions as F

    from reddit_processing_spark.graph.bfs import bfs_distances
    from reddit_processing_spark.graph.lpa import label_propagation
    from reddit_processing_spark.graph.pagerank import PageRank
    from reddit_processing_spark.graph.triangles import triangle_count
    from reddit_processing_spark.operators.extract import aggregate_edges, derive_edges, vid_expr

    out = os.path.join(rdir, "out")
    ck = os.path.join(rdir, "ckpt")
    info: dict = {"pagerank": []}
    t_start = time.monotonic()
    cpu_start, steal_start = session_cpu_s(), steal_s()

    with tr.span("extract"):
        edges, _ = derive_edges(spark.read.parquet(input_dir))
        _write(aggregate_edges(edges), os.path.join(out, "edges"))
    g = spark.read.parquet(os.path.join(out, "edges"))

    def pagerank(name: str, kernel: str, steps: int, ckpt_dir: str) -> None:
        with tr.span(f"{name}.setup"):
            pr = PageRank(spark, g, kernel=kernel)
        try:
            with tr.span(f"{name}.run"):
                ranks = pr.run(tol=0.0, max_iter=steps, ckpt_dir=ckpt_dir)
            with tr.span(f"{name}.output"):
                _write(ranks, os.path.join(out, name))
        finally:
            pr.unpersist()
        info["pagerank"].append({"name": name, "edges": pr.E})

    def call(name: str, fn) -> None:
        with tr.span(name):
            df = fn()
        with tr.span(f"{name}.output"):
            _write(df, os.path.join(out, name))

    if workload == "e2e_pipeline":
        pagerank("pagerank", "csr", PR_STEPS[workload], os.path.join(ck, "pagerank"))
        call("lpa", lambda: label_propagation(spark, g, max_iter=LPA_STEPS, ckpt_dir=os.path.join(ck, "lpa")))
        call("triangles", lambda: triangle_count(spark, g))
    elif workload == "superstep_floor":
        pr_dir = os.path.join(ck, "pagerank")
        pagerank("pagerank_interrupted", "sql", PR_INTERRUPT_AT, pr_dir)
        info["interrupted_manifests"] = manifest_mtimes(pr_dir)
        pagerank("pagerank", "sql", PR_STEPS[workload], pr_dir)
        sources = spark.range(1).select(
            F.explode(F.array(*[vid_expr(t, F.lit(k)) for t, k in BFS_SOURCES])).alias("vid")
        )
        call(
            "bfs_fused",
            lambda: bfs_distances(spark, g, sources, ckpt_dir=os.path.join(ck, "bfs_fused"), ckpt_every=BFS_FUSED_EVERY),
        )
    else:
        raise ValueError(f"unknown workload {workload!r}")

    info["wall_s"] = time.monotonic() - t_start
    info["cpu_s"] = session_cpu_s() - cpu_start
    info["steal_s"] = steal_s() - steal_start
    if workload == "superstep_floor":
        info["bfs_sources"] = [r.vid for r in sources.collect()]
    return info


def summarize_round(workload: str, rdir: str, info: dict, spans: list[dict]) -> dict:
    """Per-round figures read after the round: the spans, the PageRank
    budget and edge count, and every committed manifest."""
    ck = os.path.join(rdir, "ckpt")
    algos = sorted(os.listdir(ck))
    return {
        "wall_s": info["wall_s"],
        "cpu_s": info["cpu_s"],
        "steal_s": info["steal_s"],
        "spans": spans,
        "pagerank_edges": info["pagerank"][-1]["edges"],
        "pagerank_steps": PR_STEPS[workload],
        "pagerank_interrupt_at": PR_INTERRUPT_AT,
        "lpa_steps": LPA_STEPS,
        "interrupted_manifests": info.get("interrupted_manifests"),
        "bfs_sources": info.get("bfs_sources"),
        "output_bytes": dir_bytes(os.path.join(rdir, "out")),
        "manifest_mtimes": {a: manifest_mtimes(os.path.join(ck, a)) for a in algos},
        "manifests": {
            a: [
                {k: m.get(k) for k in ("superstep", "wall_ms", "write_ms", "rows")}
                | {"bytes": sum(p["bytes"] for p in m["partitions"])}
                for m in manifests(os.path.join(ck, a))
            ]
            for a in algos
        },
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--input", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True)
    args = ap.parse_args()

    from reddit_processing_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.range(1).count()
    t_ready = time.monotonic()
    setup_s = t_ready - args.t0
    tr = Tracer(spark, deep=bool(args.trace))
    rounds = []
    try:
        while True:
            rdir = os.path.join(args.run_dir, f"round{len(rounds)}")
            first = len(tr.spans)
            info = run_round(spark, args.workload, args.input, rdir, tr)
            rounds.append(summarize_round(args.workload, rdir, info, tr.spans[first:]))
            if time.monotonic() - t_ready + info["wall_s"] > args.seconds:
                break
        result = {
            "setup_s": setup_s,
            "rounds": rounds,
            "spark_version": spark.version,
            "java_version": spark._jvm.java.lang.System.getProperty("java.version"),
            "master": spark.sparkContext.master,
        }
    finally:
        stop_spark(spark)
    print("PERFBENCH_ROUNDS " + json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
