"""Graph algorithm oracles (SURVEY.md §5.3-5.4).

- PageRank: allclose atol 1e-6 vs the numpy power-iteration oracle
  (BASELINE.json: allclose 1e-6); mass conservation; kernel ('csr' vs
  'sql') and salted-vs-unsalted equivalence; mid-iteration resume.
- Connected components: exact vs networkx (comp label = min vid).
- LPA: exact vs the pandas synchronous oracle.
- Triangles: exact vs networkx.triangles, both orientations.
"""

from __future__ import annotations

import networkx as nx
import pytest
from pyspark.sql import functions as F

from oracle.lpa import label_propagation as olpa
from oracle.pagerank import pagerank as opr
from reddit_processing_spark.graph.components import connected_components
from reddit_processing_spark.graph.lpa import label_propagation
from reddit_processing_spark.graph.pagerank import PageRank
from reddit_processing_spark.graph.triangles import triangle_count
from reddit_processing_spark.operators.extract import aggregate_edges, derive_edges


@pytest.fixture(scope="module")
def agg_edges(spark, tiny_dir):
    edges, _ = derive_edges(spark.read.parquet(tiny_dir))
    agg = aggregate_edges(edges).cache()
    agg.count()
    return agg


@pytest.fixture(scope="module")
def agg_pdf(agg_edges):
    return agg_edges.toPandas()


@pytest.fixture(scope="module")
def nx_graph(agg_pdf):
    g = nx.Graph()
    for r in agg_pdf.itertuples():
        if r.src != r.dst:
            g.add_edge(r.src, r.dst)
    return g


def test_pagerank_matches_oracle(spark, agg_edges, agg_pdf, tmp_path):
    pr = PageRank(spark, agg_edges, num_partitions=8, kernel="csr")
    try:
        ranks = pr.run(d=0.85, tol=1e-8, max_iter=300, ckpt_dir=str(tmp_path / "pr"))
        got = {r.vid: r.rank for r in ranks.collect()}
    finally:
        pr.unpersist()
    want = opr(agg_pdf, alpha=0.85, tol=1e-13)
    assert got.keys() == want.keys()
    assert max(abs(got[v] - want[v]) for v in want) < 1e-6
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conservation


def test_pagerank_kernels_and_salt_agree(spark, agg_edges, tmp_path):
    outs = {}
    for name, kw in {
        "csr": dict(kernel="csr", salt=1),
        "sql": dict(kernel="sql", salt=1),
        "csr_salted": dict(kernel="csr", salt=4),
    }.items():
        pr = PageRank(spark, agg_edges, num_partitions=8, **kw)
        try:
            ranks = pr.run(d=0.85, tol=1e-6, max_iter=100, ckpt_dir=str(tmp_path / name))
            outs[name] = {r.vid: r.rank for r in ranks.collect()}
        finally:
            pr.unpersist()
    base = outs["csr"]
    for name in ("sql", "csr_salted"):
        assert outs[name].keys() == base.keys()
        assert max(abs(outs[name][v] - base[v]) for v in base) < 1e-9, name


def test_pagerank_resume_equivalence(spark, agg_edges, tmp_path):
    """Kill after 3 supersteps; resumed run must equal uninterrupted."""
    full_dir, part_dir = str(tmp_path / "full"), str(tmp_path / "part")
    pr = PageRank(spark, agg_edges, num_partitions=8, kernel="csr")
    try:
        full = {
            r.vid: r.rank
            for r in pr.run(d=0.85, tol=1e-7, max_iter=100, ckpt_dir=full_dir).collect()
        }
        pr.run(d=0.85, tol=1e-7, max_iter=3, ckpt_dir=part_dir)  # "killed" run
        resumed = {
            r.vid: r.rank
            for r in pr.run(d=0.85, tol=1e-7, max_iter=100, ckpt_dir=part_dir).collect()
        }
    finally:
        pr.unpersist()
    assert resumed.keys() == full.keys()
    assert max(abs(resumed[v] - full[v]) for v in full) < 1e-12

    # manifests carry per-partition lineage + delta metrics
    import json
    import glob

    manifests = sorted(glob.glob(f"{part_dir}/pagerank/manifest_*.json"))
    assert manifests
    m = json.load(open(manifests[-1]))
    assert m["partitions"] and all("rows" in p and "bytes" in p for p in m["partitions"])
    assert "delta" in m["metrics"] and m["wall_ms"] >= 0


def test_connected_components_exact(spark, agg_edges, nx_graph, tmp_path):
    comps = connected_components(
        spark, agg_edges, ckpt_dir=str(tmp_path / "cc"), num_partitions=8
    )
    got = {r.vid: r.comp for r in comps.collect()}
    want_sets = list(nx.connected_components(nx_graph))
    assert len(got) == nx_graph.number_of_nodes()
    for comp_set in want_sets:
        labels = {got[v] for v in comp_set}
        assert labels == {min(comp_set)}


def test_lpa_exact_vs_oracle(spark, agg_edges, agg_pdf, tmp_path):
    labels = label_propagation(
        spark, agg_edges, max_iter=7, ckpt_dir=str(tmp_path / "lpa"), num_partitions=8
    )
    got = {r.vid: r.label for r in labels.collect()}
    want = olpa(agg_pdf, max_iter=7)
    assert got == want


def test_triangles_exact(spark, agg_edges, nx_graph):
    for oriented in (True, False):
        tri = triangle_count(spark, agg_edges, degree_oriented=oriented)
        got = {r.vid: r.tri for r in tri.collect()}
        want = nx.triangles(nx_graph)
        assert got == {int(k): int(v) for k, v in want.items()}, f"oriented={oriented}"


def test_cc_lpa_schedules_and_salt_agree(spark, agg_edges, tmp_path):
    """frontier-delta and salted two-stage aggregation are exact
    rewrites: all schedule/salt combinations produce identical
    components and labels; the delta schedule's per-superstep message
    volume shrinks as the graph converges (manifests' msg_rows)."""
    import glob
    import json

    cc_outs = {}
    for name, kw in {
        "dense": dict(frontier=False, salt=1),
        "delta": dict(frontier=True, salt=1),
        "delta_salted": dict(frontier=True, salt=4),
    }.items():
        comps = connected_components(
            spark, agg_edges, ckpt_dir=str(tmp_path / f"cc_{name}"),
            num_partitions=8, **kw,
        )
        cc_outs[name] = {r.vid: r.comp for r in comps.collect()}
    assert cc_outs["delta"] == cc_outs["dense"]
    assert cc_outs["delta_salted"] == cc_outs["dense"]

    lpa_outs = {}
    for name, kw in {
        "dense": dict(frontier=False, salt=1),
        "delta": dict(frontier=True, salt=1),
        "delta_salted": dict(frontier=True, salt=4),
    }.items():
        labels = label_propagation(
            spark, agg_edges, max_iter=7, ckpt_dir=str(tmp_path / f"lpa_{name}"),
            num_partitions=8, **kw,
        )
        lpa_outs[name] = {r.vid: r.label for r in labels.collect()}
    assert lpa_outs["delta"] == lpa_outs["dense"]
    assert lpa_outs["delta_salted"] == lpa_outs["dense"]

    # frontier message volume shrinks: dense would send |E_sym| rows
    # every superstep; the delta schedule's msg_rows must drop below
    # its own first-superstep volume by the end. (CC only here: on
    # this fixture LPA legitimately 2-cycles on its bipartite
    # user↔thread structure, so its affected set never shrinks — the
    # LPA shrink property is asserted on a partially-converging graph
    # in test_lpa_frontier_message_shrink.)
    ms = [
        json.load(open(p))
        for p in sorted(glob.glob(str(tmp_path / "cc_delta" / "components" / "manifest_*.json")))
    ]
    rows = [m["metrics"]["msg_rows"] for m in ms]
    assert len(rows) >= 2
    assert rows[-1] < rows[0], rows


def test_lpa_frontier_message_shrink(spark, tmp_path):
    """A clique converges after two supersteps while a detached edge
    pair keeps 2-cycling: the delta schedule's message volume must
    collapse to the active rim instead of re-sending the clique."""
    import glob
    import json

    clique = [
        (i, j, 1.0) for i in range(10) for j in range(10) if i < j
    ]
    pair = [(1000, 1001, 1.0)]
    edges = spark.createDataFrame(clique + pair, "src long, dst long, w double")
    label_propagation(
        spark, edges, max_iter=6, ckpt_dir=str(tmp_path / "lpa_shrink"),
        num_partitions=4, frontier=True,
    )
    ms = [
        json.load(open(p))
        for p in sorted(glob.glob(str(tmp_path / "lpa_shrink" / "lpa" / "manifest_*.json")))
    ]
    rows = [m["metrics"]["msg_rows"] for m in ms]
    assert rows[0] == 92  # 90 symmetrized clique edges + the pair
    assert rows[-1] == 2, rows  # only the oscillating pair stays active


def test_cc_ignores_incompatible_checkpoint(spark, agg_edges, tmp_path):
    """A checkpoint written in the old (vid, comp) format is ignored
    with a warning — not an unresolved-column crash (ADVICE round 1)."""
    import warnings

    ckpt_dir = str(tmp_path / "cc_old")
    old = agg_edges.select(F.col("src").alias("vid"), F.col("src").alias("comp")).distinct()
    from reddit_processing_spark.plans.ckpt import CheckpointManager

    CheckpointManager(ckpt_dir, "components").write(old, 3)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        comps = connected_components(
            spark, agg_edges, ckpt_dir=ckpt_dir, num_partitions=8, resume=True
        )
        n = comps.count()
    assert n > 0
    assert any("ignoring it" in str(x.message) for x in w)


def test_pagerank_ignores_incompatible_checkpoint(spark, agg_edges, tmp_path):
    """Resume over an old-format (vid, rank) checkpoint restarts with
    a warning instead of an unresolved-column crash (round-1 ADVICE)."""
    import warnings

    from reddit_processing_spark.plans.ckpt import CheckpointManager

    ckpt_dir = str(tmp_path / "pr_old")
    old = agg_edges.select(F.col("src").alias("vid")).distinct().select(
        "vid", F.lit(0.1).alias("rank")
    )
    CheckpointManager(ckpt_dir, "pagerank").write(old, 2)
    pr = PageRank(spark, agg_edges, num_partitions=8, kernel="sql")
    try:
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            ranks = pr.run(d=0.85, tol=1e-4, max_iter=5, ckpt_dir=ckpt_dir)
            n = ranks.count()
    finally:
        pr.unpersist()
    assert n > 0
    assert any("ignoring it" in str(x.message) for x in w)


def test_cc_star_matches_hash_min_and_networkx(spark, agg_edges, nx_graph, tmp_path):
    """Large-star/small-star CC (the O(log²)-round production path)
    produces exactly the hash-min labeling: comp = min vid of the
    component, verified against networkx."""
    from reddit_processing_spark.graph.components import connected_components_star

    comps = connected_components_star(
        spark, agg_edges, ckpt_dir=str(tmp_path / "ccstar"), num_partitions=8
    )
    got = {r.vid: r.comp for r in comps.collect()}
    hm = connected_components(
        spark, agg_edges, ckpt_dir=str(tmp_path / "cchm"), num_partitions=8
    )
    assert got == {r.vid: r.comp for r in hm.collect()}
    for comp_set in nx.connected_components(nx_graph):
        assert {got[v] for v in comp_set} == {min(comp_set)}


def test_cc_rejects_foreign_graph_checkpoint(spark, agg_edges, tmp_path):
    """A checkpoint directory written for a DIFFERENT edge set is
    rejected by the manifest graph-fingerprint (round-2 ADVICE): the
    run warns, restarts from superstep 0, and produces the correct
    components for the CURRENT graph — no silent frontier corruption."""
    import warnings

    ckpt_dir = str(tmp_path / "cc_foreign")
    # graph A: a shifted copy of the edge set (disjoint vid space)
    edges_a = agg_edges.select(
        (F.col("src") + 10_000_000).alias("src"),
        (F.col("dst") + 10_000_000).alias("dst"),
        "w",
    )
    connected_components(spark, edges_a, ckpt_dir=ckpt_dir, num_partitions=8)
    # graph B (the real one) resuming A's directory must NOT reuse it
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        comps = connected_components(
            spark, agg_edges, ckpt_dir=str(tmp_path / "cc_foreign2"), num_partitions=8
        )
        got_fresh = {r.vid: r.comp for r in comps.collect()}
        comps2 = connected_components(
            spark, agg_edges, ckpt_dir=ckpt_dir, num_partitions=8, resume=True
        )
        got_resumed = {r.vid: r.comp for r in comps2.collect()}
    assert any("DIFFERENT input graph" in str(x.message) for x in w)
    assert got_resumed == got_fresh


def test_cc_star_warns_when_rounds_exhausted(spark, agg_edges, tmp_path):
    """Exhausting max_rounds before the edge signature stabilizes must
    WARN (the returned labels are local minima, not component minima —
    round-2 ADVICE), instead of silently returning plausible labels."""
    import warnings

    from reddit_processing_spark.graph.components import connected_components_star

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        connected_components_star(
            spark, agg_edges, max_rounds=1,
            ckpt_dir=str(tmp_path / "ccstar_short"), num_partitions=8,
        ).count()
    assert any("did not" in str(x.message) and "stabilize" in str(x.message) for x in w)


def test_pagerank_resume_rejects_foreign_graph(spark, agg_edges, tmp_path):
    """PageRank manifests carry the edge-set fingerprint; resuming a
    directory from a different graph restarts at superstep 0 with a
    warning and still matches a fresh run exactly."""
    import warnings

    ckpt_dir = str(tmp_path / "pr_foreign")
    edges_a = agg_edges.select(
        (F.col("src") + 10_000_000).alias("src"),
        (F.col("dst") + 10_000_000).alias("dst"),
        "w",
    )
    pr_a = PageRank(spark, edges_a, num_partitions=8, kernel="sql")
    try:
        pr_a.run(d=0.85, tol=1e-4, max_iter=3, ckpt_dir=ckpt_dir)
    finally:
        pr_a.unpersist()
    pr = PageRank(spark, agg_edges, num_partitions=8, kernel="sql")
    try:
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            ranks = pr.run(d=0.85, tol=1e-6, max_iter=50, ckpt_dir=ckpt_dir)
            got = {r.vid: r.rank for r in ranks.collect()}
        fresh = pr.run(d=0.85, tol=1e-6, max_iter=50, ckpt_dir=str(tmp_path / "pr_fresh"))
        want = {r.vid: r.rank for r in fresh.collect()}
    finally:
        pr.unpersist()
    assert any("DIFFERENT input graph" in str(x.message) for x in w)
    assert got.keys() == want.keys()
    assert max(abs(got[v] - want[v]) for v in want) == 0.0


def test_clustering_coefficients_match_networkx(spark, agg_edges, nx_graph):
    """Local clustering coefficients exact vs networkx.clustering
    (deg<2 vertices are 0.0 by convention) and the corpus average vs
    networkx.average_clustering — the summary the merged driver entry
    (tri_part_cooccurrence avg_clustering) reports."""
    import networkx as nx

    from reddit_processing_spark.graph.triangles import clustering_coefficients

    got = {
        r.vid: (r.deg, r.tri, r.coeff)
        for r in clustering_coefficients(spark, agg_edges).collect()
    }
    want_c = nx.clustering(nx_graph)
    want_t = nx.triangles(nx_graph)
    assert set(got) == set(nx_graph.nodes)
    for v, (deg, tri, coeff) in got.items():
        assert deg == nx_graph.degree(v), v
        assert tri == want_t[v], v
        assert abs(coeff - want_c[v]) < 1e-12, v
    avg = sum(c for _, _, c in got.values()) / len(got)
    assert abs(avg - nx.average_clustering(nx_graph)) < 1e-12


def test_degree_assortativity_matches_networkx(spark, agg_edges, nx_graph):
    """Newman assortativity + degree moments vs networkx on the
    transcript-derived graph (graph/metrics.py)."""
    import math

    from reddit_processing_spark.graph.metrics import degree_assortativity

    row = degree_assortativity(spark, agg_edges).first()
    want = nx.degree_assortativity_coefficient(nx_graph)
    assert math.isclose(row.assortativity, want, rel_tol=0, abs_tol=1e-9)
    degs = [d for _, d in nx_graph.degree()]
    assert row.n_vertices == nx_graph.number_of_nodes()
    assert row.n_edges == nx_graph.number_of_edges()
    assert math.isclose(row.avg_deg, sum(degs) / len(degs), abs_tol=1e-9)
    assert row.max_deg == max(degs)


def test_degree_assortativity_regular_graph_null(spark):
    """Degree-regular graph → zero variance → coefficient undefined:
    NULL, matching networkx's nan (a 4-cycle is 2-regular)."""
    from reddit_processing_spark.graph.metrics import degree_assortativity

    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    ).withColumn("w", F.lit(1.0))
    row = degree_assortativity(spark, cyc).first()
    assert row.assortativity is None
    assert (row.n_vertices, row.n_edges, row.max_deg) == (4, 4, 2)


def test_modularity_matches_networkx(spark, agg_edges, nx_graph):
    """Newman modularity of a deterministic 3-way vertex partition vs
    networkx.algorithms.community.modularity on the transcript-derived
    graph (graph/metrics.py modularity)."""
    import math

    from reddit_processing_spark.graph.metrics import modularity

    verts = sorted(nx_graph.nodes())
    labels = spark.createDataFrame(
        [(v, int(v) % 3) for v in verts], "vid long, label long"
    )
    row = modularity(spark, agg_edges, labels).first()
    comms = [
        {v for v in verts if v % 3 == c}
        for c in range(3)
        if any(v % 3 == c for v in verts)
    ]
    want = nx.algorithms.community.modularity(nx_graph, comms, weight=None)
    assert math.isclose(row.modularity, want, rel_tol=0, abs_tol=1e-9)
    assert row.n_communities == len(comms)
    assert row.m_edges == nx_graph.number_of_edges()


def test_modularity_single_community_zero(spark, agg_edges, nx_graph):
    """The all-in-one-community partition has Q = L/m − (2m/2m)² = 0
    exactly when the graph is connected into one label — the classic
    sanity identity."""
    from reddit_processing_spark.graph.metrics import modularity

    labels = spark.createDataFrame(
        [(v, 0) for v in nx_graph.nodes()], "vid long, label long"
    )
    row = modularity(spark, agg_edges, labels).first()
    assert abs(row.modularity) < 1e-12
    assert row.n_communities == 1


def test_modularity_of_lpa_labels(spark, agg_edges, agg_pdf, tmp_path):
    """End-to-end community-quality check: modularity consumes the
    engine's own LPA output and agrees with networkx computing the
    same partition's modularity."""
    import math

    labels = label_propagation(
        spark, agg_edges, max_iter=10, num_partitions=8,
        ckpt_dir=str(tmp_path / "lpa_mod"),
    )
    from reddit_processing_spark.graph.metrics import modularity

    modularity_row = modularity(spark, agg_edges, labels).first()
    lab = {r.vid: r.label for r in labels.collect()}
    g = nx.Graph()
    for r in agg_pdf.itertuples():
        if r.src != r.dst:
            g.add_edge(r.src, r.dst)
    comms = {}
    for v, c in lab.items():
        comms.setdefault(c, set()).add(v)
    want = nx.algorithms.community.modularity(g, comms.values(), weight=None)
    assert math.isclose(modularity_row.modularity, want, rel_tol=0, abs_tol=1e-9)


def test_reciprocity_matches_networkx(spark, agg_edges, agg_pdf):
    """Directed reciprocity vs networkx.overall_reciprocity on the
    loop-free DiGraph of the raw directed transcript edges."""
    import math

    from reddit_processing_spark.graph.metrics import reciprocity

    row = reciprocity(spark, agg_edges).first()
    dg = nx.DiGraph()
    for r in agg_pdf.itertuples():
        if r.src != r.dst:
            dg.add_edge(r.src, r.dst)
    want = nx.overall_reciprocity(dg)
    assert math.isclose(row.reciprocity, want, rel_tol=0, abs_tol=1e-12)
    assert row.n_directed_edges == dg.number_of_edges()


def test_reciprocity_hand_checked(spark):
    """1→2, 2→1, 1→3, 3→3 (loop dropped): 2 of 3 directed edges
    reciprocated → 2/3; and the empty graph is NULL, not an ANSI
    divide-by-zero."""
    from reddit_processing_spark.graph.metrics import reciprocity

    e = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (3, 3), (1, 2)], "src long, dst long"
    )
    row = reciprocity(spark, e).first()
    assert (row.n_directed_edges, row.n_reciprocated) == (3, 2)
    assert abs(row.reciprocity - 2.0 / 3.0) < 1e-15
    empty = spark.createDataFrame([], "src long, dst long")
    row0 = reciprocity(spark, empty).first()
    assert row0.reciprocity is None and row0.n_directed_edges == 0


def test_modularity_counts_isolated_communities(spark):
    """n_communities counts distinct labels of the PARTITION: a
    community made solely of isolated vertices contributes 0 to Q but
    must still be counted (round-4 ADVICE — the per-community edge
    aggregate omitted it). networkx parity with the isolated node in
    the graph confirms Q is untouched."""
    import networkx as nx

    from reddit_processing_spark.graph.metrics import modularity

    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 1.0), (3, 4, 1.0)],
        "src long, dst long, w double",
    )
    labels = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 1), (99, 7)], "vid long, label long"
    )
    row = modularity(spark, e, labels).first()
    g = nx.Graph([(1, 2), (2, 3), (1, 3), (3, 4)])
    g.add_node(99)
    want = nx.algorithms.community.modularity(
        g, [{1, 2, 3}, {4}, {99}], weight=None
    )
    assert abs(row.modularity - want) < 1e-12
    assert row.n_communities == 3
    assert row.m_edges == 4
