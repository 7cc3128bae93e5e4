"""The superstep runtime (plans/superstep.py) and its one-commit
checkpoint contract.

- Crash-point resume matrix: a run killed (a) after a step's parquet
  commit and before its manifest, (b) right after its manifest, or
  (c) part-way through rewriting a step dir that an older manifest
  still references, resumes — without a warning or a restart — to the
  uninterrupted result, within each algorithm's resume envelope.
- Every committed step is exactly one manifest write.
- Runtime-owned temp checkpoint dirs are gone after the process exits;
  fused blocks release their cached RDDs; an Observation failure
  other than the pruned-node case propagates.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import warnings

import pytest
from pyspark.sql import Observation
from pyspark.sql.readwriter import DataFrameWriter

from reddit_processing_spark.graph.components import connected_components
from reddit_processing_spark.graph.hits import HITS
from reddit_processing_spark.graph.katz import Katz
from reddit_processing_spark.graph.kcore import core_numbers
from reddit_processing_spark.graph.pagerank import PageRank
from reddit_processing_spark.operators.extract import aggregate_edges, derive_edges
from reddit_processing_spark.plans.ckpt import CheckpointManager
from reddit_processing_spark.plans.superstep import _pruned

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Crash(Exception):
    """The injected failure."""


@pytest.fixture(scope="module")
def agg_edges(spark, tiny_dir):
    edges, _ = derive_edges(spark.read.parquet(tiny_dir))
    agg = aggregate_edges(edges).cache()
    agg.count()
    return agg


@pytest.fixture(scope="module")
def runners(spark, agg_edges):
    """algo dir → (run(ckpt_dir, max_iter, resume) -> {vid: value},
    resume envelope, rounds per step, total budget, crash step)."""
    pr = PageRank(spark, agg_edges, num_partitions=8, kernel="sql")
    h = HITS(spark, agg_edges, num_partitions=8)
    kz = Katz(spark, agg_edges, num_partitions=8)

    def pagerank(d, n, resume):
        out = pr.run(d=0.85, tol=0, max_iter=n, ckpt_dir=d, resume=resume)
        return {r.vid: r.rank for r in out.collect()}

    def hits(d, n, resume):
        out = h.run(tol=0, max_iter=n, ckpt_dir=d, resume=resume)
        return {r.vid: (r.hub, r.auth) for r in out.collect()}

    def katz(d, n, resume):
        with warnings.catch_warnings():
            warnings.filterwarnings("ignore", "katz: not converged")
            out = kz.run(alpha=0.01, tol=0, max_iter=n, ckpt_dir=d, resume=resume)
            return {r.vid: r.katz for r in out.collect()}

    def cc(d, n, resume):
        out = connected_components(
            spark, agg_edges, max_iter=n, ckpt_dir=d, num_partitions=8, resume=resume
        )
        return {r.vid: r.comp for r in out.collect()}

    def kcore(d, n, resume):
        with warnings.catch_warnings():
            warnings.filterwarnings("ignore", "core_numbers: h-index")
            out = core_numbers(
                spark, agg_edges, max_iter=n, ckpt_dir=d, num_partitions=8,
                resume=resume, ckpt_every=2,
            )
            return {r.vid: r.core for r in out.collect()}

    yield {
        "pagerank": (pagerank, 1e-12, 1, 4, 3),
        "hits": (hits, 1e-12, 1, 4, 3),
        "katz": (katz, 1e-10, 1, 4, 3),
        "components": (cc, 0.0, 1, 4, 3),
        "kcore": (kcore, 0.0, 2, 6, 4),
    }
    for obj in (pr, h, kz):
        obj.unpersist()


def _spy(m, crash_before=None, crash_after=None) -> list[int]:
    """Record every manifest commit; optionally fail one step's commit
    before or after the rename."""
    published: list[int] = []
    orig = CheckpointManager._publish

    def publish(self, step, manifest):
        if step == crash_before:
            raise Crash(f"before manifest {step}")
        orig(self, step, manifest)
        published.append(step)
        if step == crash_after:
            raise Crash(f"after manifest {step}")

    m.setattr(CheckpointManager, "_publish", publish)
    return published


def _close(got: dict, want: dict, tol: float) -> bool:
    def diff(a, b):
        if isinstance(a, tuple):
            return max(abs(x - y) for x, y in zip(a, b))
        return abs(a - b)

    return got.keys() == want.keys() and all(diff(got[v], want[v]) <= tol for v in want)


@pytest.mark.parametrize("point", ["before_manifest", "after_manifest", "mid_rewrite"])
@pytest.mark.parametrize("algo", ["pagerank", "hits", "katz", "components", "kcore"])
def test_crash_point_resume(algo, point, runners, tmp_path, monkeypatch):
    run, tol, every, total, crash = runners[algo]

    with monkeypatch.context() as m:
        published = _spy(m)
        want = run(str(tmp_path / "full"), total, True)
    # one manifest write per committed step
    assert published == list(range(every, total + 1, every))

    d = str(tmp_path / "ck")
    with monkeypatch.context() as m:
        if point == "before_manifest":
            # parquet + _SUCCESS in place, manifest never written
            _spy(m, crash_before=crash)
            resume_at = crash - every
        elif point == "after_manifest":
            _spy(m, crash_after=crash)
            resume_at = crash
        else:
            # an older run committed up to `crash`; a restart dies while
            # rewriting that step's dir, which the old manifest names
            run(d, crash, True)
            orig = DataFrameWriter.parquet
            target = os.path.join(d, algo, f"step={crash:05d}")

            def parquet(self, path, *a, **kw):
                orig(self, path, *a, **kw)
                if path == target:
                    os.remove(os.path.join(path, "_SUCCESS"))
                    for part in sorted(glob.glob(os.path.join(path, "part-*.parquet")))[:1]:
                        os.remove(part)
                    raise Crash(f"mid-rewrite of {path}")

            m.setattr(DataFrameWriter, "parquet", parquet)
            resume_at = crash - every
        with pytest.raises(Crash):
            run(d, total, point != "mid_rewrite")

    with monkeypatch.context() as m, warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        published = _spy(m)
        got = run(d, total, True)
    assert not [x for x in w if "checkpoint" in str(x.message)], [str(x.message) for x in w]
    # resumed exactly where the crash left the last valid step
    assert published == list(range(resume_at + every, total + 1, every))
    assert _close(got, want, tol)


def test_resume_refuses_manifest_without_required_metric(spark, agg_edges, tmp_path):
    """A checkpoint whose manifest lacks a scalar the next step needs
    (PageRank's dangling mass) is refused like a schema mismatch: a
    warning and a restart at superstep 0, never a guessed value."""
    d = str(tmp_path / "pr")
    pr = PageRank(spark, agg_edges, num_partitions=8, kernel="sql")
    try:
        want = {r.vid: r.rank for r in pr.run(tol=0, max_iter=3, ckpt_dir=d).collect()}
        p = os.path.join(d, "pagerank", "manifest_00003.json")
        with open(p) as fh:
            m = json.load(fh)
        del m["metrics"]["dangle"]
        with open(p, "w") as fh:
            json.dump(m, fh)
        with pytest.warns(UserWarning, match=r"lacks the metrics \['dangle'\]"):
            got = {r.vid: r.rank for r in pr.run(tol=0, max_iter=3, ckpt_dir=d).collect()}
    finally:
        pr.unpersist()
    assert _close(got, want, 1e-12)


def test_owned_checkpoint_dirs_removed_at_exit(tmp_path):
    """Called without ``ckpt_dir``, the runtime checkpoints into temp
    dirs that exist while the process runs (the returned frame reads
    them) and are gone once it exits."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    script = f"""
import os, sys
sys.path.insert(0, {REPO!r})
from reddit_processing_spark.session import get_spark
from reddit_processing_spark.graph.kcore import core_numbers
from reddit_processing_spark.graph.pagerank import pagerank

spark = get_spark(master="local[2]", shuffle_partitions=4)
edges = spark.createDataFrame(
    [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (3, 4, 2.0)], "src long, dst long, w double"
)
ranks = pagerank(spark, edges, max_iter=3)
cores = core_numbers(spark, edges)
names = os.listdir({str(tmp)!r})
assert {{n.split("_ckpt_")[0] for n in names}} == {{"pagerank", "kcore"}}, names
assert ranks.count() == 4 and cores.count() == 4
"""
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")
    }
    env.update(
        TMPDIR=str(tmp), SPARK_DRIVER_MEM="1g", SPARK_LOCAL_DIRS=str(tmp_path / "local")
    )
    subprocess.run([sys.executable, "-c", script], env=env, check=True, timeout=600)
    assert os.listdir(tmp) == []


def test_fused_blocks_release_cached_rdds(spark, agg_edges, tmp_path):
    """The k−1 lazy localCheckpoints of each fused block are released
    after the block's commit; a fused run leaves no persistent RDD."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    core_numbers(
        spark, agg_edges, ckpt_dir=str(tmp_path / "k"), num_partitions=8, ckpt_every=3
    ).collect()
    assert jsc.getPersistentRDDs().size() <= before


def test_pruned_observation_reads_zero(spark, tmp_path):
    """A block that overshoots convergence empties the message stream
    its last round observes; AQE prunes that CollectMetrics node and
    the runtime records msg_rows = 0 (7-vertex graph, cadence 6)."""
    e = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 7)]
    df = spark.createDataFrame(e, "src long, dst long")
    d = str(tmp_path / "k")
    got = {r.vid: r.core for r in core_numbers(spark, df, ckpt_dir=d, ckpt_every=6).collect()}
    assert got == {1: 2, 2: 2, 3: 2, 4: 1, 5: 1, 6: 1, 7: 1}
    with open(os.path.join(d, "kcore", "manifest_00006.json")) as fh:
        assert json.load(fh)["metrics"]["msg_rows"] == 0


def test_metric_read_failure_propagates(spark, agg_edges, tmp_path, monkeypatch):
    def boom(self):
        raise RuntimeError("metric read failed")

    monkeypatch.setattr(Observation, "get", property(boom))
    with pytest.raises(RuntimeError, match="metric read failed"):
        connected_components(
            spark, agg_edges, max_iter=1, ckpt_dir=str(tmp_path / "cc"), num_partitions=8
        )
    # nothing was committed for the step whose metrics failed
    assert not glob.glob(str(tmp_path / "cc" / "components" / "manifest_*.json"))


class _Frame:
    def __init__(self, name):
        self._name = name

    def getMethodName(self):
        return self._name


class _JavaExc:
    def __init__(self, cls, frames):
        self._cls, self._frames = cls, [_Frame(f) for f in frames]

    def getClass(self):
        cls = self._cls
        return type("C", (), {"getName": lambda _self: cls})()

    def getStackTrace(self):
        return self._frames


class _Err(Exception):
    def __init__(self, cls, frames):
        super().__init__(cls)
        self.java_exception = _JavaExc(cls, frames)


def test_only_the_pruned_node_error_is_tolerated():
    assert _pruned(_Err("java.lang.AssertionError", ["assert", "toPyRow", "invoke0"]))
    assert not _pruned(_Err("java.lang.AssertionError", ["assert", "collect"]))
    assert not _pruned(_Err("java.lang.IllegalStateException", ["toPyRow"]))
    assert not _pruned(RuntimeError("no java exception"))
