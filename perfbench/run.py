"""End-to-end benchmark: parquet transcripts -> edge table -> graph outputs.

Run from the root of a checkout of the engine::

    python3 perfbench/run.py --workload e2e_pipeline --seed 1 --seconds 30 --trace 0

The run generates the workload's input from ``--seed`` (untimed, cached
under ``perfbench/.work/inputs``), then starts a fresh engine process
(``engine.py``) on ``local[<cpus>]`` with its own Spark scratch,
checkpoint and output directories. That process times one cold session
set-up and whole rounds of the workload for about ``--seconds``. This
process samples the resident memory of the engine's JVM and Python
workers from ``/proc``, waits for every process of the run to end, checks
each round's outputs against computations made apart from the engine
(``verify.py``), removes the run's directories and prints one JSON line
last: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, and the per-call breakdown is written to
``perfbench/.work/traces``. The line before it records the host.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

from engine import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
ENGINE_TIMEOUT_S = 150


def host_facts() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "loadavg_1m": os.getloadavg()[0],
    }


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    return data[data.rindex(")") + 2:].split()


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid`` (the engine process started one)."""
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = _stat_fields(pid)
            if f is not None and f[3] == str(sid) and f[0] != "Z":
                out.append(int(pid))
    return out


def _status_kb(pid: int) -> dict[str, int]:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(("VmRSS:", "VmHWM:")):
                    out[line[:5]] = int(line.split()[1])
    except OSError:
        pass
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class RssSampler(threading.Thread):
    """Peak resident memory of the engine's JVM (its kernel high-water mark)
    plus the peak summed RSS of its Python workers, sampled every 0.5 s.
    The engine's own driver process is not counted."""

    def __init__(self, driver_pid: int):
        super().__init__(daemon=True)
        self.driver_pid = driver_pid
        self.jvm_kb = 0
        self.workers_kb = 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(0.5):
            workers = 0
            for pid in session_pids(self.driver_pid):
                if pid == self.driver_pid:
                    continue
                kb = _status_kb(pid)
                if _comm(pid) == "java":
                    self.jvm_kb = max(self.jvm_kb, kb.get("VmHWM", 0))
                else:
                    workers += kb.get("VmRSS", 0)
            self.workers_kb = max(self.workers_kb, workers)

    def stop(self) -> float:
        self._done.set()
        self.join()
        return (self.jvm_kb + self.workers_kb) / 1024.0


def end_session(sid: int, timeout_s: float = 30.0) -> None:
    """Kill whatever is left of the engine's session and wait until it is gone."""
    deadline = time.monotonic() + timeout_s
    while (pids := session_pids(sid)) and time.monotonic() < deadline:
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    if session_pids(sid):
        raise RuntimeError(f"processes of session {sid} still running after {timeout_s} s")


def run_engine(workload: str, input_dir: str, rdir: str, seconds: float, trace: int) -> tuple[dict, float]:
    """Start the engine process, sample its memory, wait for it and every
    process it started; return its report and the peak RSS in MB."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(rdir, d))
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_DRIVER_MEM", "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")}
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(rdir, "local"),
        TMPDIR=os.path.join(rdir, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(rdir, 'tmp')} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join([ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
    )
    cmd = [
        sys.executable, os.path.join(HERE, "engine.py"),
        "--workload", workload, "--input", input_dir, "--run-dir", rdir,
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    with open(os.path.join(rdir, "engine.log"), "wb") as log:
        t0 = time.monotonic()
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=rdir, env=env, stdout=subprocess.PIPE, stderr=log, start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            stdout, _ = proc.communicate(timeout=ENGINE_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            raise
        finally:
            peak_mb = sampler.stop()
            end_session(proc.pid)
    lines = [ln for ln in stdout.decode().splitlines() if ln.startswith("PERFBENCH_ROUNDS ")]
    if proc.returncode != 0 or not lines:
        with open(os.path.join(rdir, "engine.log"), errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"engine process exited with {proc.returncode}")
    return json.loads(lines[-1].split(" ", 1)[1]), peak_mb


def _sum(spans: list[dict], names, key: str = "s"):
    return sum(s.get(key, 0) for s in spans if s["name"] in names)


def layer_metrics(rnd: dict, setup_s: float, turns: int, peak_mb: float) -> dict:
    """Per-layer figures of one traced round."""
    spans = rnd["spans"]
    names = {s["name"] for s in spans}
    pr_setup = {n for n in names if n.startswith("pagerank") and n.endswith(".setup")}
    pr_run = {n for n in names if n.startswith("pagerank") and n.endswith(".run")}
    outputs = {n for n in names if n.endswith(".output")}
    algos = names - pr_setup - pr_run - outputs - {"extract"}
    mans = [m for ms in rnd["manifests"].values() for m in ms]
    pr_mans = rnd["manifests"]["pagerank"]
    extract_s = _sum(spans, {"extract"})
    return {
        "session.start_s": setup_s,
        "round.cpu_s": rnd["cpu_s"],
        "round.edges_per_cpu_s": edges_per_s(rnd, "cpu_s"),
        "extract.s": extract_s,
        "extract.turns": turns,
        "extract.edges": rnd["pagerank_edges"],
        "extract.turns_per_s": turns / extract_s,
        "extract.shuffle_bytes": _sum(spans, {"extract"}, "shuffle_bytes"),
        "pagerank.setup_s": _sum(spans, pr_setup),
        "pagerank.run_s": _sum(spans, pr_run),
        "pagerank.run_cpu_s": _sum(spans, pr_run, "cpu_s"),
        "pagerank.supersteps": len(pr_mans),
        "pagerank.step_ms_p50": statistics.median(x["wall_ms"] for x in pr_mans),
        "pagerank.executor_ms": _sum(spans, pr_setup | pr_run, "executor_ms"),
        "pagerank.shuffle_bytes": _sum(spans, pr_setup | pr_run, "shuffle_bytes"),
        "pagerank.jobs": _sum(spans, pr_setup | pr_run, "jobs"),
        "ckpt.floor_ms_p50": statistics.median(x["wall_ms"] - x["write_ms"] for x in mans),
        "ckpt.write_ms_p50": statistics.median(x["write_ms"] for x in mans),
        "ckpt.manifests": len(mans),
        "ckpt.bytes": sum(x["bytes"] for x in mans),
        "graph.s": _sum(spans, algos),
        "graph.jobs": _sum(spans, algos, "jobs"),
        "graph.shuffle_bytes": _sum(spans, algos, "shuffle_bytes"),
        "output.s": _sum(spans, outputs),
        "output.bytes": rnd["output_bytes"],
        "jvm.gc_ms": _sum(spans, names, "gc_ms"),
        "rss.peak_mb": peak_mb,
        "spark.jobs": _sum(spans, names, "jobs"),
        "spark.tasks": _sum(spans, names, "tasks"),
        "spark.executor_ms": _sum(spans, names, "executor_ms"),
    }


def edges_per_s(rnd: dict, key: str = "s") -> float:
    """Aggregated edges x PageRank supersteps per second of the
    ``PageRank.run`` calls (``key="cpu_s"``: per CPU second)."""
    runs = {s["name"] for s in rnd["spans"] if s["name"].startswith("pagerank") and s["name"].endswith(".run")}
    return rnd["pagerank_edges"] * len(rnd["manifests"]["pagerank"]) / _sum(rnd["spans"], runs, key)


def end_to_end(report: dict) -> dict:
    """The gated metrics: medians over rounds, one cold set-up."""
    rounds = report["rounds"]
    return {
        "setup_s": report["setup_s"],
        "wall_s": statistics.median(r["wall_s"] for r in rounds),
        "edges_per_s": statistics.median(edges_per_s(r) for r in rounds),
    }


def call_breakdown(rnd: dict) -> dict:
    """Every engine call of a traced round by name: its span figures and,
    for iterative calls, the supersteps its checkpoint directory holds."""
    out = {}
    for s in rnd["spans"]:
        for k, v in s.items():
            if k != "name":
                out[f"{s['name']}.{k}"] = v
    for algo, ms in rnd["manifests"].items():
        out[f"{algo}.supersteps"] = len(ms)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="transcripts -> graph end-to-end benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "reddit_processing_spark", "session.py")):
        print("perfbench: run from the root of an engine checkout (reddit_processing_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from gen import ensure_input
    from verify import check_round, transcript_counts

    input_dir = ensure_input(os.path.join(WORK, "inputs"), args.seed)
    rdir = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    host = host_facts()
    try:
        report, peak_mb = run_engine(args.workload, input_dir, rdir, args.seconds, args.trace)
        counts = transcript_counts(input_dir)
        fails = []
        for i, rnd in enumerate(report["rounds"]):
            fails += [f"round {i}: {f}" for f in check_round(args.workload, os.path.join(rdir, f"round{i}"), rnd, counts)]
    finally:
        shutil.rmtree(rdir, ignore_errors=True)
    for f in fails:
        print(f"CHECK FAILED {f}", file=sys.stderr)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    rounds = report["rounds"]
    if args.trace:
        per_round = [layer_metrics(r, report["setup_s"], counts["turns"], peak_mb) for r in rounds]
        values = {k: statistics.median(p[k] for p in per_round) for k in per_round[0]}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"host": host, "wall_s": [r["wall_s"] for r in rounds], "layers": per_round,
                       "calls": [call_breakdown(r) for r in rounds]}, fh, indent=1)
    else:
        values = end_to_end(report)
    listed = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    host.update(spark=report["spark_version"], java=report["java_version"], master=report["master"])
    calls = [{s["name"]: round(s["s"], 3) for s in r["spans"]} for r in rounds]
    print(json.dumps({"host": host, "peak_rss_mb": peak_mb, "round_wall_s": [r["wall_s"] for r in rounds],
                      "round_cpu_s": [r["cpu_s"] for r in rounds], "round_steal_s": [r["steal_s"] for r in rounds],
                      "round_calls_s": calls}))
    print(json.dumps({
        "correct": not fails,
        "attempted": sum(len(r["spans"]) for r in rounds),
        "failed": 0,
        "metrics": metrics,
    }))
    return 0 if not fails else 1


if __name__ == "__main__":
    sys.exit(main())
