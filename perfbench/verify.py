"""Correctness checks made apart from the engine.

Each check reads a round's parquet outputs and compares them against a
computation that does not call the engine: DuckDB over the transcript
parquet, numpy, networkx and the repository's pure-pandas LPA oracle
(``oracle/lpa.py``). ``check_round`` returns the list of failed checks;
an empty list means the round is correct.
"""

from __future__ import annotations

import os

import duckdb
import networkx as nx
import numpy as np
import pandas as pd

from gen import U_A, U_B

DAMPING = 0.85

# Raw (pre-aggregation) edges of the transcripts, derived in SQL:
# dedup keep-first per (conv_id, turn_idx) by (ts, text), then one role
# edge per adjacent turn pair and a user<->thread edge pair per user turn.
_RAW_EDGES_SQL = """
WITH raw AS (SELECT * FROM read_parquet('{path}/*.parquet')
             WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL AND role IS NOT NULL),
turns AS (SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                 ORDER BY ts ASC NULLS LAST, text ASC NULLS LAST) AS rn
    FROM raw) WHERE rn = 1),
nu AS (SELECT greatest(1, count(DISTINCT conv_id) // 3) AS n FROM turns),
role_edges AS (
    SELECT lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts) AS s_key, role AS d_key,
           'role' AS s_type, 'role' AS d_type
    FROM turns),
user_turns AS (
    SELECT 'u' || CAST((CAST(substr(conv_id, 2) AS BIGINT) * {ua} + turn_idx * {ub}) % nu.n AS VARCHAR) AS ukey,
           conv_id
    FROM turns, nu WHERE role = 'user'),
edges AS (
    SELECT s_type, s_key, d_type, d_key FROM role_edges WHERE s_key IS NOT NULL
    UNION ALL SELECT 'user', ukey, 'thread', conv_id FROM user_turns
    UNION ALL SELECT 'thread', conv_id, 'user', ukey FROM user_turns)
SELECT count(*) AS raw_edges,
       count(DISTINCT (s_type, s_key, d_type, d_key)) AS distinct_edges,
       (SELECT count(*) FROM raw) AS turns
FROM edges
"""


def transcript_counts(input_dir: str) -> dict:
    """Raw edge count, distinct (src, dst) pairs and input rows, by DuckDB."""
    con = duckdb.connect()
    try:
        row = con.execute(_RAW_EDGES_SQL.format(path=input_dir, ua=U_A, ub=U_B)).fetchone()
    finally:
        con.close()
    return {"raw_edges": int(row[0]), "distinct_edges": int(row[1]), "turns": int(row[2])}


def power_iteration(edges: pd.DataFrame, steps: int) -> dict[int, float]:
    """``steps`` PageRank supersteps from the uniform vector: weighted
    out-normalisation, damping 0.85, dangling mass spread uniformly."""
    vids, inv = np.unique(np.concatenate([edges["src"].to_numpy(), edges["dst"].to_numpy()]), return_inverse=True)
    n = len(vids)
    src, dst = inv[: len(edges)], inv[len(edges):]
    w = edges["w"].to_numpy(dtype=np.float64)
    out_w = np.bincount(src, weights=w, minlength=n)
    dangling = out_w == 0.0
    w_norm = w / out_w[src]
    r = np.full(n, 1.0 / n)
    for _ in range(steps):
        contrib = np.bincount(dst, weights=r[src] * w_norm, minlength=n)
        r = (1.0 - DAMPING) / n + DAMPING * (contrib + r[dangling].sum() / n)
    return dict(zip(vids.tolist(), r.tolist()))


def simple_graph(edges: pd.DataFrame) -> nx.Graph:
    g = nx.Graph()
    g.add_nodes_from(np.union1d(edges["src"].to_numpy(), edges["dst"].to_numpy()).tolist())
    g.add_edges_from((s, d) for s, d in zip(edges["src"].tolist(), edges["dst"].tolist()) if s != d)
    return g


def triangle_total(g: nx.Graph) -> int:
    """Triangles counted once each, by neighbour-set intersection over
    edges oriented low id -> high id."""
    higher = {v: {u for u in g[v] if u > v} for v in g}
    return sum(len(higher[v] & higher[u]) for v in g for u in higher[v])


def _read(out_dir: str, name: str) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(out_dir, name))


def _check_ranks(fails: list, name: str, got: pd.DataFrame, want: dict[int, float]) -> None:
    ranks = dict(zip(got["vid"].tolist(), got["rank"].tolist()))
    if ranks.keys() != want.keys():
        fails.append(f"{name}: vertex set differs from the edge table's")
        return
    if abs(sum(ranks.values()) - 1.0) > 1e-6:
        fails.append(f"{name}: ranks sum to {sum(ranks.values())!r}, not 1")
    err = max(abs(ranks[v] - want[v]) for v in want)
    if err > 1e-9:
        fails.append(f"{name}: max |rank - numpy| = {err:.3g} > 1e-9")


def check_round(workload: str, rdir: str, info: dict, counts: dict) -> list[str]:
    """Check one round's outputs; ``info`` is the round summary the engine
    process reported, ``counts`` the DuckDB transcript counts."""
    from oracle.lpa import label_propagation

    fails: list[str] = []
    out = os.path.join(rdir, "out")
    edges = _read(out, "edges")
    if int(edges["w"].sum()) != counts["raw_edges"]:
        fails.append(f"edges: sum(w) {edges['w'].sum()} != DuckDB raw edge count {counts['raw_edges']}")
    if len(edges) != counts["distinct_edges"]:
        fails.append(f"edges: {len(edges)} rows != DuckDB distinct edges {counts['distinct_edges']}")

    steps = info["pagerank_steps"]
    _check_ranks(fails, "pagerank", _read(out, "pagerank"), power_iteration(edges, steps))
    committed = len(info["manifests"]["pagerank"])
    if committed != steps:
        fails.append(f"pagerank: {committed} supersteps committed, expected {steps}")

    g = simple_graph(edges)
    comps = list(nx.connected_components(g))
    if workload == "e2e_pipeline":
        lpa = _read(out, "lpa")
        labels = dict(zip(lpa["vid"].tolist(), lpa["label"].tolist()))
        comp_of = {v: i for i, c in enumerate(comps) for v in c}
        if any(comp_of.get(lab) != comp_of.get(v) for v, lab in labels.items()):
            fails.append("lpa: a label is not a vertex of its own component")
        if labels != label_propagation(edges, max_iter=info["lpa_steps"]):
            fails.append("lpa: labels differ from oracle/lpa.py")
        tri = _read(out, "triangles")
        per_vertex = dict(zip(tri["vid"].tolist(), tri["tri"].tolist()))
        if {v: t for v, t in per_vertex.items() if t} != {v: t for v, t in nx.triangles(g).items() if t}:
            fails.append("triangles: per-vertex counts differ from networkx")
        if sum(per_vertex.values()) != 3 * triangle_total(g):
            fails.append("triangles: per-vertex sum != 3 x triangle total")
    elif workload == "superstep_floor":
        a = info["pagerank_interrupt_at"]
        _check_ranks(fails, "pagerank_interrupted", _read(out, "pagerank_interrupted"), power_iteration(edges, a))
        before = {int(k): t for k, t in info["interrupted_manifests"].items()}
        after = {int(k): t for k, t in info["manifest_mtimes"]["pagerank"].items()}
        if sorted(before) != list(range(1, a + 1)):
            fails.append(f"pagerank_interrupted: committed supersteps {sorted(before)}, expected 1..{a}")
        if any(after.get(s) != t for s, t in before.items()):
            fails.append("pagerank resume: rewrote a superstep the interrupted run had committed")
        if sorted(after) != list(range(1, steps + 1)):
            fails.append(f"pagerank resume: committed supersteps {sorted(after)}, expected 1..{steps}")
        bfs = _read(out, "bfs_fused")
        got = dict(zip(bfs["vid"].tolist(), bfs["dist"].tolist()))
        want: dict[int, int] = {}
        for s in info["bfs_sources"]:
            if s in g:
                for v, d in nx.single_source_shortest_path_length(g, s).items():
                    want[v] = min(d, want.get(v, d))
        if got != want:
            fails.append("bfs_fused: distances differ from networkx multi-source BFS")
    return fails
