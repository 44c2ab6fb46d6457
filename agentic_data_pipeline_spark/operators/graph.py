"""Graph analytics over corpus-derived graphs.

Graph-based curation ranks documents by centrality in a similarity graph
(e.g. sampling hubs, down-weighting orphan spam) — the edge list comes
from ext_knn_graph / LSH candidates; this module runs the iterative
algorithms on it. Same distributed-iteration shape as k-means / BPE /
connected components: one big joined aggregate per round, lineage cut per
round — and NO per-round driver sync: the dangling mass rides along as a
1-row broadcast inside the same plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import op
from ..session import pin
from .similarity import _KNN_GRAPH_ORACLE

C = F.col


def pagerank(vertices: DataFrame, edges: DataFrame, damping: float = 0.85,
             iters: int = 10) -> DataFrame:
    """PageRank by power iteration. ``vertices``: one column ``id``;
    ``edges``: ``src``, ``dst`` (directed, unweighted).

    Per round: contributions = edges ⋈ ranks, aggregated per dst — ONE
    shuffle on dst (map-side combined) plus the rank-update join on id;
    out-degree weights are precomputed once. Dangling mass (vertices with
    no out-edges) is a 1-row aggregate that CROSS-JOINS (broadcast) into
    the rank update — part of the same distributed plan, zero driver
    round-trips per iteration (the r4 nit: a scalar `.collect()` per
    round cost 10 extra driver-synced jobs for nothing).
    ``pin`` cuts the per-round lineage. At 100 TB-corpus graph
    sizes the state is two (id, double) tables partitioned on id; rounds
    are fixed-count, so the whole run is `iters` bounded shuffles.

    The loop-invariant inputs are pinned once and the state after every
    round (every 2nd/5th-round and disk-checkpoint cuts measured slower
    or a wash: OPTIMIZATION_r11.md "ext_pagerank — lazy per-round lineage
    cuts", OPTIMIZATION_r12.md "Measured negatives").
    """
    from pyspark.sql import Window

    n = vertices.count()
    # Out-degree weights via a window over src: ONE pass over the edge
    # subtree and one shuffle. The previous self-join form
    # (edges ⋈ edges.groupBy(src).count) evaluated the edge subtree —
    # here the full BLAS kNN construction — TWICE and paid an extra join
    # (same recompute class as the r6 connected-components fix;
    # interleaved A/B at sf0.1: 3.61 s → 3.16 s, ranks bit-identical).
    w_edges = pin(edges.select(
        "src", "dst",
        (1.0 / F.count(F.lit(1)).over(Window.partitionBy("src")))
        .alias("w")))
    has_out = w_edges.select("src").distinct()
    # Dangling-ness is a property of the GRAPH, not the iteration: resolve
    # it once into a boolean carried on the rank state, so each round's
    # dangling mass is a filter+agg over the pinned state instead of
    # a fresh anti-join (one join per iteration saved — measured ~20% off
    # the 10-round sf0.1 wall time), and the update joins the prior state
    # rather than rescanning the vertex table.
    ranks = pin(vertices
                .join(has_out.select(C("src").alias("id"),
                                     F.lit(True).alias("__has")),
                      "id", "left")
                .select("id", F.lit(1.0 / n).alias("rank"),
                        F.coalesce(C("__has"), F.lit(False))
                        .alias("has_out")))
    for _ in range(iters):
        dang = (ranks.filter(~C("has_out"))
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dang")))
        contribs = (w_edges.join(ranks.select("id", "rank"),
                                 C("src") == C("id"))
                    .groupBy("dst")
                    .agg(F.sum(C("rank") * C("w")).alias("contrib")))
        # base = (1-d)/n + d*dang/n, evaluated in the same left-to-right
        # double arithmetic as the oracle's recursive step.
        base = (F.lit((1.0 - damping) / n)
                + F.lit(damping) * C("__dang") / F.lit(float(n)))
        ranks = pin(ranks.select("id", "has_out")
                    .join(contribs, C("id") == C("dst"), "left")
                    .crossJoin(F.broadcast(dang))
                    .select("id",
                            (base
                             + F.lit(damping) * F.coalesce(C("contrib"),
                                                           F.lit(0.0)))
                            .alias("rank"),
                            "has_out"))
    return ranks.select("id", "rank")


# The oracle replays the SAME fixed-count power iteration as a bounded
# recursive CTE: per step, per-dst contribution sums + the dangling mass,
# exactly the op's update rule. Edge list = the hash-green ext_knn_graph
# oracle; MATERIALIZED pins the expensive self-join to one evaluation.
# Ranks are displayed floor(x*1e9 + 1e-3)/1e9 on both engines: the scaled
# epsilon (1e-12 on the value) absorbs the last-ulp summation-order noise
# between Spark's shuffle-order sums and DuckDB's scan-order sums, which
# sits ~1e-19 absolute after 10 damped iterations.
_PAGERANK_ORACLE = f"""
WITH RECURSIVE
edges AS MATERIALIZED (
    SELECT vec_id AS src, neighbor_id AS dst FROM ({_KNN_GRAPH_ORACLE})
),
deg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings),
pr(iter, id, rank) AS (
    SELECT 0, vec_id, 1.0 / nn.n FROM embeddings, nn
    UNION ALL
    SELECT p.iter + 1, p.id,
           ((1.0 - 0.85) / nn.n + 0.85 * dg.dang / nn.n)
             + 0.85 * COALESCE(c.contrib, 0.0)
    FROM pr p
    CROSS JOIN nn
    CROSS JOIN (SELECT COALESCE(SUM(p2.rank), 0.0) AS dang
                FROM pr p2 LEFT JOIN deg d ON d.src = p2.id
                WHERE d.src IS NULL) dg
    LEFT JOIN (SELECT e.dst, SUM(p3.rank * (1.0 / d.outdeg)) AS contrib
               FROM pr p3 JOIN deg d ON d.src = p3.id
               JOIN edges e ON e.src = p3.id
               GROUP BY e.dst) c ON c.dst = p.id
    WHERE p.iter < 10
)
SELECT id, FLOOR(rank * 1e9 + 1e-3) / 1e9 AS rank FROM pr WHERE iter = 10
"""


@op("ext_pagerank", oracle=_PAGERANK_ORACLE)
def ext_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the label-blocked kNN similarity graph
    (ext_knn_graph edges, k=3): the corpus-curation signal for hub
    sampling / orphan down-weighting. Vertices = all embedding ids, so
    singleton-block vectors participate as dangling nodes.

    Oracle-checked end-to-end: DuckDB replays the identical 10-iteration
    power iteration as a bounded WITH RECURSIVE over the same (hash-green)
    edge oracle — see _PAGERANK_ORACLE for the float-noise analysis; a
    pytest additionally pins every rank against a pure-Python iteration
    at 1e-9 (tests/test_pagerank.py).

    Edges come from the BLAS kNN twin (ext_knn_graph_batch) — the scale
    path for graph construction; it shares ext_knn_graph's oracle and its
    edge list is pytest-pinned identical to the JVM fold's, so the rank
    oracle is unaffected by the choice."""
    from ..registry import OPS

    edges = (OPS["ext_knn_graph_batch"].fn(spark, sf_dir)
             .select(C("vec_id").alias("src"), C("neighbor_id").alias("dst")))
    verts = (load_table(spark, sf_dir, "embeddings")
             .select(C("vec_id").alias("id")))
    return (pagerank(verts, edges, damping=0.85, iters=10)
            .select("id", (F.floor(C("rank") * 1e9 + 1e-3) / 1e9)
                    .alias("rank")))


def triangle_count(edges: DataFrame, salt_threshold: int | None = None,
                   salt_buckets: int = 16) -> DataFrame:
    """Per-vertex triangle counts + local clustering coefficient over an
    undirected view of ``edges`` (src, dst).

    Degree-ordered enumeration (the standard distributed-triangle trick):
    every undirected edge is oriented from its (degree, id)-smaller
    endpoint to the larger, so wedge generation from a shared apex is
    bounded by sum(out_deg²) with out_deg ≤ O(√m) — a skewed hub vertex
    of degree d contributes 0 wedges as an apex unless its rank is low,
    instead of the naive d² ≈ corpus-killing blow-up. Each triangle is
    produced exactly once (its unique apex is the (deg, id)-minimum
    vertex) and the closing edge is probed with one semi-ish inner join
    on the oriented pair key. Shuffle ledger: dedup (1), degree agg (1),
    two vertex-keyed orientation joins, the apex self-join, the closing
    probe — all hash-partitioned on bounded keys; nothing is quadratic
    in a vertex's raw degree.

    Apex salting (r7 verdict item 6 — the load-balance knob on top of the
    degree-ordered BOUND): the orientation caps any apex's out-degree at
    O(√m), but a dense near-dup community still lands all its (√m)²
    wedges on ONE apex join key, i.e. one task. With ``salt_threshold``
    set, apexes whose OUT-degree exceeds it have their wedge generation
    split over ``salt_buckets`` join keys: leg2 rows bucket by
    pmod(xxhash64(b), S), leg1 rows replicate to all S buckets, the join key
    becomes (a, bucket) — every (b1, b2) pair is produced exactly once
    (in b2's bucket), so totals are hash-identical while the max per-key
    candidate volume drops from out_deg² to out_deg²/S (probe:
    scripts/probe_triangle_salting.py). Light apexes keep one bucket and
    pay nothing; the only added cost is the out-degree aggregate (keyed
    on `a`, the partitioning the self-join needs anyway) and S× leg1
    replication FOR HEAVY APEXES ONLY. Default off: the fixture graph's
    max out-degree is tiny and the extra aggregate would be pure
    overhead below ~10⁵-wedge apexes.
    """
    und = (edges.filter(C("src") != C("dst"))
           .select(F.least("src", "dst").alias("u"),
                   F.greatest("src", "dst").alias("v"))
           .distinct())
    deg = (und.select(C("u").alias("x"))
           .unionAll(und.select(C("v").alias("x")))
           .groupBy("x").agg(F.count(F.lit(1)).alias("degree")))
    with_deg = (und
                .join(deg.select(C("x").alias("u"),
                                 C("degree").alias("du")), "u")
                .join(deg.select(C("x").alias("v"),
                                 C("degree").alias("dv")), "v"))
    u_first = (C("du") < C("dv")) | ((C("du") == C("dv"))
                                     & (C("u") < C("v")))
    # Oriented edge a→b with a ≺ b in (degree, id) order; keep b's key
    # so wedge legs can be ordered without re-joining degrees.
    # reused three times below (two wedge legs + closing probe): pin,
    # don't recompute
    oriented = pin(with_deg.select(
        F.when(u_first, C("u")).otherwise(C("v")).alias("a"),
        F.when(u_first, C("v")).otherwise(C("u")).alias("b"),
        F.when(u_first, C("dv")).otherwise(C("du")).alias("db")))
    order = (C("db1") < C("db2")) | ((C("db1") == C("db2"))
                                     & (C("b1") < C("b2")))
    if salt_threshold is None:
        leg1 = oriented.select(C("a"), C("b").alias("b1"),
                               C("db").alias("db1"))
        leg2 = oriented.select(C("a"), C("b").alias("b2"),
                               C("db").alias("db2"))
        wedges = leg1.join(leg2, "a").filter(order)
    else:
        s = salt_buckets
        odeg = oriented.groupBy("a").agg(F.count(F.lit(1)).alias("__od"))
        o2 = oriented.join(odeg, "a")
        heavy = C("__od") > salt_threshold
        leg2 = o2.select(
            C("a"), C("b").alias("b2"), C("db").alias("db2"),
            F.when(heavy, F.pmod(F.xxhash64(C("b")), F.lit(s)))
            .otherwise(F.lit(0)).cast("int").alias("__s"))
        leg1 = o2.select(
            C("a"), C("b").alias("b1"), C("db").alias("db1"),
            F.explode(F.when(heavy, F.sequence(F.lit(0), F.lit(s - 1)))
                      .otherwise(F.array(F.lit(0)))).alias("__s"))
        wedges = leg1.join(leg2, ["a", "__s"]).filter(order).drop("__s")
    closing = oriented.select(C("a").alias("b1"), C("b").alias("b2"))
    tri = wedges.join(closing, ["b1", "b2"]).select("a", "b1", "b2")
    per_v = (tri.select(C("a").alias("x"))
             .unionAll(tri.select(C("b1").alias("x")))
             .unionAll(tri.select(C("b2").alias("x")))
             .groupBy("x").agg(F.count(F.lit(1)).alias("triangles")))
    return (deg.join(per_v, "x", "left")
            .select(C("x"),
                    C("degree"),
                    F.coalesce(C("triangles"), F.lit(0)).alias("triangles"),
                    F.when(C("degree") >= 2,
                           F.lit(2.0) * F.coalesce(C("triangles"), F.lit(0))
                           / (C("degree") * (C("degree") - 1)))
                    .otherwise(F.lit(0.0)).alias("clustering")))


# Oracle enumerates triangles id-ordered (a<b<c over the deduped
# undirected pair set) — a different enumeration order than the op's
# degree-ordered apex walk, but the same triangle SET, so the per-vertex
# counts agree exactly. The clustering coefficient is one IEEE double
# division of exact integers on both engines ((2.0*t)/(d*(d-1)), same
# association), hence bit-identical — no display truncation needed.
_TRIANGLE_ORACLE = f"""
WITH e0 AS (
    SELECT DISTINCT LEAST(vec_id, neighbor_id) AS u,
           GREATEST(vec_id, neighbor_id) AS v
    FROM ({_KNN_GRAPH_ORACLE}) WHERE vec_id <> neighbor_id
),
deg AS (
    SELECT x, CAST(COUNT(*) AS BIGINT) AS degree
    FROM (SELECT u AS x FROM e0 UNION ALL SELECT v AS x FROM e0)
    GROUP BY x
),
tri AS (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM e0 e1
    JOIN e0 e2 ON e2.u = e1.u AND e2.v > e1.v
    JOIN e0 e3 ON e3.u = e1.v AND e3.v = e2.v
),
per_v AS (
    SELECT x, CAST(COUNT(*) AS BIGINT) AS triangles
    FROM (SELECT a AS x FROM tri UNION ALL SELECT b AS x FROM tri
          UNION ALL SELECT c AS x FROM tri)
    GROUP BY x
)
SELECT d.x AS vec_id, d.degree,
       COALESCE(p.triangles, 0) AS triangles,
       CASE WHEN d.degree >= 2
            THEN 2.0 * COALESCE(p.triangles, 0) / (d.degree * (d.degree - 1))
            ELSE 0.0 END AS clustering
FROM deg d LEFT JOIN per_v p ON p.x = d.x
"""


@op("ext_triangle_count", oracle=_TRIANGLE_ORACLE)
def ext_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficient per vertex of the
    kNN similarity graph — the third graph-curation signal next to
    PageRank (hubs) and connected components (duplicate clusters): a
    high clustering coefficient marks tightly-knit near-dup communities
    that boilerplate/template spam produces, a 0 coefficient marks
    chain-like accidental similarity. Degree-ordered enumeration (see
    triangle_count) keeps wedge work sub-quadratic in hub degree at
    100 TB graph sizes; the DuckDB oracle re-derives the same triangle
    set id-ordered from the hash-green kNN edge oracle."""
    from ..registry import OPS

    edges = (OPS["ext_knn_graph_batch"].fn(spark, sf_dir)
             .select(C("vec_id").alias("src"), C("neighbor_id").alias("dst")))
    return (triangle_count(edges)
            .select(C("x").alias("vec_id"), "degree", "triangles",
                    "clustering"))
