"""Per-vertex triangle counting (SURVEY.md §2.3 J6).

Canonical-order wedge join: undirected simple edges are canonicalized
``a < b`` (each triangle survives exactly once as a < b < c), wedges
``(a,b)·(b,c)`` are closed by a LEFT SEMI probe for ``(a,c)``, and
each closed wedge credits all three corners. Exact vs
``networkx.triangles``.

Skew note (100 TB): the wedge join fans out quadratically on hub
vertices. The canonical ``a < b`` orientation already halves hub
degrees; the standard further mitigation (orient edges low-degree →
high-degree so every wedge pivots on its lowest-degree corner) is
implemented behind ``degree_oriented=True`` — same results, bounded
wedge counts (O(E^1.5) total work).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .components import symmetrize


def canonical_edges(edges: DataFrame) -> DataFrame:
    """Undirected simple edges as a single canonical direction a<b."""
    return (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )


def orient_by_degree(und: DataFrame, sym: DataFrame) -> DataFrame:
    """(lo, hi): each canonical edge (a, b) of ``und`` oriented from
    its lower-degree endpoint (ties by vid), degrees taken from the
    symmetric edges ``sym`` — wedges then pivot on low-degree vertices."""
    deg = sym.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("d"))
    lo_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return (
        und.join(deg.select(F.col("vid").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("vid").alias("b"), F.col("d").alias("db")), "b")
        .select(
            F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        )
    )


def closed_wedges(e: DataFrame, sym: DataFrame) -> DataFrame:
    """(p, x, y) once per triangle: wedges pivot at ``lo`` of the
    oriented edges ``e`` (lo, hi) with a total order on the two spokes,
    and close by a LEFT SEMI probe of the symmetric edges ``sym``."""
    e1 = e.select(F.col("lo").alias("p"), F.col("hi").alias("x"))
    e2 = e.select(F.col("lo").alias("p"), F.col("hi").alias("y"))
    wedges = e1.join(e2, "p").filter(F.col("x") < F.col("y"))
    closing = sym.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    return wedges.join(closing, ["x", "y"], "left_semi")


def triangle_count(
    spark: SparkSession,
    edges: DataFrame,
    degree_oriented: bool = True,
) -> DataFrame:
    """Returns (vid, tri) for every vertex of the undirected graph."""
    sym = symmetrize(edges).persist(StorageLevel.MEMORY_AND_DISK)
    # canonical view comes from the persisted symmetric edges (one
    # scan of the possibly-expensive input lineage, reused throughout)
    und = sym.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    if degree_oriented:
        e = orient_by_degree(und, sym)
    else:
        e = und.select(F.col("a").alias("lo"), F.col("b").alias("hi"))
    tris = closed_wedges(e.persist(StorageLevel.MEMORY_AND_DISK), sym)

    per_vertex = (
        tris.select(F.explode(F.array("p", "x", "y")).alias("vid"))
        .groupBy("vid")
        .agg(F.count("*").alias("tri"))
    )
    all_vids = sym.select(F.col("src").alias("vid")).distinct()
    return all_vids.join(per_vertex, "vid", "left").select(
        "vid", F.coalesce("tri", F.lit(0)).alias("tri")
    )


def clustering_coefficients(
    spark: SparkSession,
    edges: DataFrame,
    degree_oriented: bool = True,
) -> DataFrame:
    """(vid, deg, tri, coeff) — the local clustering coefficient
    ``c_v = 2·tri_v / (deg_v·(deg_v−1))`` of every vertex of the
    undirected simple graph, 0.0 for deg < 2 (the
    ``networkx.clustering`` convention, exact parity in tests).

    Scale shape: all the quadratic work is the triangle count's
    degree-oriented wedge join (shared, O(E^1.5) total); this adds one
    |V|-row degree aggregate and one |V|-row join on vid — nothing new
    fans out. The corpus-level summary (``networkx.average_clustering``)
    is one further aggregate over the result."""
    tri = triangle_count(spark, edges, degree_oriented=degree_oriented)
    deg = (
        symmetrize(edges)
        .groupBy("src")
        .agg(F.count("*").alias("deg"))
        .select(F.col("src").alias("vid"), "deg")
    )
    return tri.join(deg, "vid").select(
        "vid",
        "deg",
        "tri",
        F.when(
            F.col("deg") >= 2,
            2.0 * F.col("tri") / (F.col("deg") * (F.col("deg") - F.lit(1.0))),
        )
        .otherwise(F.lit(0.0))
        .alias("coeff"),
    )
