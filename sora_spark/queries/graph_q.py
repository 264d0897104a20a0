"""Declared queries: graph / overlap-reduction family Q-G1..Q-G8
(SURVEY §2.10 — the SORA capability core: degree analysis, k-hop,
triangles, connected components, transitive reduction, tip removal,
path compaction, bubble detection).

Q-G2 (2-hop count) lives in bench_core as qj9. Fixpoint and
reduction queries run on the bounded subgraph (partkeys < 500) so the
DuckDB recursive-CTE oracle stays tractable; the Spark implementations
in sora_spark.graph are scale-free (iterative joins + localCheckpoint).
"""

from __future__ import annotations

import os
import re
from contextlib import contextmanager

from pyspark.sql import functions as F

from pyspark.sql.window import Window

from sora_spark.catalog import tables
from sora_spark.graph import Graph, e_co, e_seq
from sora_spark.graph.derive import (
    E_CO_SMALL_SQL,
    E_CO_SQL,
    E_DIR_SMALL_SQL,
    e_co_small,
)
from sora_spark.graph.overlap import (
    DEBRUIJN_SQL,
    OVERLAP_MAX_SQL,
    OVERLAP_SQL,
    READS10_SQL,
    READS_SQL,
    derive_reads,
    overlap_edges,
    overlap_edges_max,
)
from sora_spark.queries.registry import query

# Fixpoint-unroll oracles (qg11b/qg13/qg15) hard-code an unroll count
# measured at these scale factors; at a larger sf the unrolled SQL can
# stop before the true fixpoint and the hash check would fail
# SPURIOUSLY.  Guard: raise a clear calibration error instead of
# letting scale-up surface as a silent-looking hash mismatch
# (ADVICE r03).  Round-5 re-measurement on the bounded e_co_small
# graph at sf0.1: reduce fixpoint 3 rounds (unroll now 4), k-core peel
# 2 rounds (<= 9 unrolled), SSSP convergence 6 rounds (<= 15 bound) —
# calibration extended to sf0.1; full suite green there.
_CALIBRATED_MAX_SF = 0.1

# The calibration escape is a SCOPED in-process flag, not an env var
# (r10 ADVICE: SORA_UNCALIBRATED_SF_OK=1 was process-wide and its
# safety rested on a comment; an env leak into a hash-gated run could
# certify truncated-unroll oracles beyond the proven sf). Bench/scale
# entrypoints — which never consult oracles — wrap their runs in
# `allow_uncalibrated_sf()`; everything else hits the guard.
_UNCALIBRATED_OK = False


@contextmanager
def allow_uncalibrated_sf():
    """Scoped escape from the unrolled-oracle calibration guard, for
    bench/scale entrypoints only: the ENGINE side runs its loops to
    the calibrated max_iter at any sf (perf-representative work), and
    a bench run never compares against the truncation-sensitive
    unrolled oracle. Never wrap a hash-gated comparison in this."""
    global _UNCALIBRATED_OK
    prev = _UNCALIBRATED_OK
    _UNCALIBRATED_OK = True
    try:
        yield
    finally:
        _UNCALIBRATED_OK = prev


def _require_calibrated_sf(sf_dir: str, what: str) -> None:
    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    if not m:
        return  # custom fixture dir — calibration unknowable, skip
    try:
        sf = float(m.group(1))
    except ValueError:
        return
    if _UNCALIBRATED_OK:
        return
    if sf > _CALIBRATED_MAX_SF + 1e-12:
        hint = ""
        if os.environ.get("SORA_UNCALIBRATED_SF_OK") == "1":
            hint = (
                " (the SORA_UNCALIBRATED_SF_OK env escape was removed "
                "in r11 — bench/scale entrypoints now scope the bypass "
                "via graph_q.allow_uncalibrated_sf())"
            )
        raise ValueError(
            f"{what}: unrolled-fixpoint oracle calibrated for "
            f"sf <= {_CALIBRATED_MAX_SF}, got sf={sf}. Re-measure "
            "rounds-to-fixpoint at this scale and raise the unroll "
            "constant (see graph_q.py fixpoint queries) before "
            "trusting the hash comparison." + hint
        )


@query(
    "qg1_degree_histogram",
    oracle=f"""
WITH eco AS ({E_CO_SQL}),
deg AS (
  SELECT v, count(*) AS degree
  FROM (SELECT s AS v FROM eco UNION ALL SELECT d FROM eco) ends
  GROUP BY v)
SELECT degree, count(*) AS n_vertices
FROM deg GROUP BY degree ORDER BY degree
""",
    doc="Q-G1: total-degree histogram over the co-occurrence graph.",
    tags=("graph",),
)
def qg1_degree_histogram(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    return Graph(e_co(li)).degree_histogram().orderBy("degree")


@query(
    "qg3_triangle_count",
    oracle=f"""
WITH eco AS ({E_CO_SQL})
SELECT count(*) AS triangle_count
FROM eco e1
JOIN eco e2 ON e1.d = e2.s
JOIN eco e3 ON e1.s = e3.s AND e2.d = e3.d
""",
    doc="Q-G3: triangle count (s<m<d canonical closing condition holds "
    "because E_co edges are already s<d).",
    tags=("graph",),
)
def qg3_triangle_count(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    return Graph(e_co(li)).triangle_count()


@query(
    "qg4_connected_components",
    oracle=f"""
WITH RECURSIVE eco AS ({E_CO_SMALL_SQL}),
edges AS (SELECT s, d FROM eco UNION SELECT d, s FROM eco),
verts AS (SELECT DISTINCT s AS v FROM edges),
reach(v, r) AS (
  SELECT v, v FROM verts
  UNION
  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.v
),
comp AS (SELECT v, min(r) AS component FROM reach GROUP BY v),
sizes AS (SELECT component, count(*) AS component_size FROM comp GROUP BY component)
SELECT component_size, count(*) AS n_components
FROM sizes GROUP BY component_size ORDER BY component_size
""",
    doc="Q-G4: connected components via min-label propagation to "
    "fixpoint (labels = min vertex id ⇒ order-free); output the "
    "component-size histogram. Oracle: recursive-CTE reachability "
    "closure + min per vertex on the bounded subgraph.",
    tags=("graph", "fixpoint"),
)
def qg4_connected_components(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    return (
        Graph(e_co_small(li))
        .component_size_histogram()
        .orderBy("component_size")
    )


@query(
    "qg4b_connected_components_twophase",
    oracle=f"""
WITH RECURSIVE eco AS ({E_CO_SMALL_SQL}),
edges AS (SELECT s, d FROM eco UNION SELECT d, s FROM eco),
verts AS (SELECT DISTINCT s AS v FROM edges),
reach(v, r) AS (
  SELECT v, v FROM verts
  UNION
  SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.v
),
comp AS (SELECT v, min(r) AS component FROM reach GROUP BY v),
sizes AS (SELECT component, count(*) AS component_size FROM comp GROUP BY component)
SELECT component_size, count(*) AS n_components
FROM sizes GROUP BY component_size ORDER BY component_size
""",
    doc="Q-G4 scale variant: connected components via alternating "
    "large-star/small-star contraction (O(log n) rounds vs min-label's "
    "O(diameter) — the difference that matters on high-diameter graphs "
    "at 100 TB). Same component-size-histogram contract and oracle as "
    "qg4; round-count comparison recorded in tests/test_graph.py.",
    tags=("graph", "fixpoint", "scale"),
)
def qg4b_connected_components_twophase(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    return (
        Graph(e_co_small(li))
        .component_size_histogram(method="twophase")
        .orderBy("component_size")
    )


@query(
    "qg1b_directed_degrees",
    oracle="""
WITH eseq AS (
  SELECT user_id, event_id AS src,
         lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events),
e AS (SELECT src, dst FROM eseq WHERE dst IS NOT NULL),
deg AS (
  SELECT v, CAST(sum(outd) AS BIGINT) AS out_degree,
         CAST(sum(ind) AS BIGINT) AS in_degree
  FROM (SELECT src AS v, 1 AS outd, 0 AS ind FROM e
        UNION ALL SELECT dst, 0, 1 FROM e) u
  GROUP BY v)
SELECT out_degree, in_degree, count(*) AS n_vertices
FROM deg GROUP BY out_degree, in_degree ORDER BY out_degree, in_degree
""",
    doc="qg1b: in/out-degree histogram over the directed succession "
    "graph (chain graphs: internal vertices are 1/1, ends 1/0 or 0/1).",
    tags=("graph",),
)
def qg1b_directed_degrees(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    e = e_seq(ev).select("src", "dst")
    # one pass (r14, the chain_edges trick): the union form derived the
    # e_seq window subplan once per branch; exploding each edge into
    # (v=src, out) + (v=dst, in) counts both directions in one pass
    ends = e.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("src").alias("v"),
                    F.lit(1).alias("outd"),
                    F.lit(0).alias("ind"),
                ),
                F.struct(
                    F.col("dst").alias("v"),
                    F.lit(0).alias("outd"),
                    F.lit(1).alias("ind"),
                ),
            )
        ).alias("e")
    ).select("e.v", "e.outd", "e.ind")
    deg = ends.groupBy("v").agg(
        F.sum("outd").alias("out_degree"), F.sum("ind").alias("in_degree")
    )
    return (
        deg.groupBy("out_degree", "in_degree")
        .agg(F.count("*").alias("n_vertices"))
        .orderBy("out_degree", "in_degree")
    )


@query(
    "qg10_weighted_edges",
    oracle="""
WITH ew AS (
  SELECT a.l_partkey AS s, b.l_partkey AS d, count(*) AS weight
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2)
SELECT weight, count(*) AS n_edges,
       CAST(sum(weight) AS BIGINT) AS total_cooccurrences
FROM ew GROUP BY weight ORDER BY weight
""",
    doc="qg10: weighted overlap edges — co-occurrence count per part "
    "pair (the analog of overlap length on assembly edges); histogram "
    "of edge weights.",
    tags=("graph", "weighted"),
)
def qg10_weighted_edges(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem.select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    ew = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("s"), F.col("b.l_partkey").alias("d")
        )
        .agg(F.count("*").alias("weight"))
    )
    return (
        ew.groupBy("weight")
        .agg(
            F.count("*").alias("n_edges"),
            F.sum("weight").cast("bigint").alias("total_cooccurrences"),
        )
        .orderBy("weight")
    )


@query(
    "qg9_bfs_hops",
    oracle=f"""
WITH RECURSIVE eco AS ({E_CO_SMALL_SQL}),
edges AS (SELECT s, d FROM eco UNION SELECT d, s FROM eco),
src AS (SELECT min(s) AS v FROM eco),
walk(v, hop) AS (
  SELECT v, 0 FROM src
  UNION
  SELECT e.d, walk.hop + 1 FROM walk JOIN edges e ON e.s = walk.v
  WHERE walk.hop < 10
),
d AS (SELECT v, CAST(min(hop) AS INT) AS hop FROM walk GROUP BY v)
SELECT hop, count(*) AS n_vertices
FROM d GROUP BY hop ORDER BY hop
""",
    doc="qg9: BFS hop-distance histogram from the minimum vertex over "
    "the bounded co-occurrence graph (frontier iteration vs recursive "
    "walk + min-hop oracle).",
    tags=("graph", "bfs"),
)
def qg9_bfs_hops(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    # lazy cut (r14): the source argmin and bfs_hops' sym derivation
    # would otherwise each run the full e_co_small derivation
    g = Graph(e_co_small(li).localCheckpoint(eager=False))
    src = g.edges.agg(F.min("s").alias("v"))
    return (
        g.bfs_hops(src, max_hops=10)
        .groupBy("hop")
        .agg(F.count("*").alias("n_vertices"))
        .orderBy("hop")
    )


@query(
    "qg5_transitive_reduction",
    oracle=f"""
WITH eco AS ({E_CO_SMALL_SQL}),
paths AS (SELECT DISTINCT e1.s AS s, e2.d AS d
          FROM eco e1 JOIN eco e2 ON e1.d = e2.s)
SELECT
  (SELECT count(*) FROM eco e
    WHERE EXISTS (SELECT 1 FROM paths p WHERE p.s = e.s AND p.d = e.d))
      AS n_removed,
  (SELECT count(*) FROM eco e
    WHERE NOT EXISTS (SELECT 1 FROM paths p WHERE p.s = e.s AND p.d = e.d))
      AS n_surviving
""",
    doc="Q-G5: one transitive-reduction round — edges shadowed by a "
    "2-path are removed (left-semi/anti against the path set).",
    tags=("graph", "reduction"),
)
def qg5_transitive_reduction(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    # lazy cut (r14): transitive_edges consumes the edge frame three
    # times (2-path sides + semi target) and transitive_reduction_round
    # re-derives the removal set plus the anti side — SEVEN full
    # e_co_small derivations in one query without the cut (the loops
    # in reduce_pipeline already checkpoint; this is the one-shot row).
    # The first count materializes the blocks; every consumer reads them.
    g = Graph(e_co_small(li).localCheckpoint(eager=False))
    removed = g.transitive_edges().agg(F.count("*").alias("n_removed"))
    surviving = g.transitive_reduction_round().agg(
        F.count("*").alias("n_surviving")
    )
    return removed.crossJoin(surviving)


@query(
    "qg6_tips",
    oracle=f"""
WITH eco AS ({E_CO_SMALL_SQL}),
deg AS (
  SELECT v, count(*) AS degree
  FROM (SELECT s AS v FROM eco UNION ALL SELECT d FROM eco) ends
  GROUP BY v),
ends AS (SELECT s AS v, d AS nbr FROM eco UNION ALL SELECT d, s FROM eco)
SELECT
  (SELECT count(*) FROM deg d1 JOIN ends e ON d1.v = e.v
                   JOIN deg d2 ON e.nbr = d2.v
    WHERE d1.degree = 1 AND d2.degree >= 3) AS n_tips,
  (SELECT count(*) FROM (SELECT user_id FROM events
                         GROUP BY user_id HAVING count(*) >= 2) u)
      AS n_chain_ends
""",
    doc="Q-G6: dead-end (tip) removal shape — degree-1 vertices hanging "
    "off a hub (degree ≥ 3), plus E_seq chain-end count (one end per "
    "user chain with ≥1 edge).",
    tags=("graph", "reduction"),
)
def qg6_tips(spark, sf_dir):
    t = tables(spark, sf_dir)
    tips = (
        Graph(e_co_small(t.lineitem))
        .tips(hub_degree=3)
        .agg(F.count("*").alias("n_tips"))
    )
    chain_ends = (
        t.events.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .agg(F.count("*").alias("n_chain_ends"))
    )
    return tips.crossJoin(chain_ends)


@query(
    "qg7_path_compaction",
    oracle="""
WITH chains AS (
  SELECT user_id, count(*) - 1 AS chain_length
  FROM events GROUP BY user_id HAVING count(*) >= 2)
SELECT chain_length, count(*) AS n_chains
FROM chains GROUP BY chain_length ORDER BY chain_length
""",
    doc="Q-G7: path compaction over E_seq — each user's event chain "
    "compacts to one unitig; histogram of chain lengths (edge counts). "
    "Computed from the derived edge list itself; the generic no-key "
    "pointer-doubling compaction is unit-tested in tests/test_graph.py.",
    tags=("graph", "compaction"),
)
def qg7_path_compaction(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    edges = e_seq(ev)
    return (
        edges.groupBy("user_id")
        .agg(F.count("*").alias("chain_length"))
        .groupBy("chain_length")
        .agg(F.count("*").alias("n_chains"))
        .orderBy("chain_length")
    )


@query(
    "qg8_bubbles",
    oracle=f"""
WITH eco AS ({E_CO_SMALL_SQL}),
tp AS (SELECT e1.s AS u, e1.d AS x, e2.d AS w
       FROM eco e1 JOIN eco e2 ON e1.d = e2.s)
SELECT count(*) AS n_bubble_pairs
FROM (SELECT u, w FROM tp GROUP BY u, w HAVING count(DISTINCT x) >= 2) b
""",
    doc="Q-G8: bubble detection — endpoint pairs (u, w) connected by "
    "≥ 2 distinct internal vertices via 2-paths.",
    tags=("graph", "reduction"),
)
def qg8_bubbles(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    return (
        Graph(e_co_small(li))
        .bubble_pairs(min_mids=2)
        .agg(F.count("*").alias("n_bubble_pairs"))
    )


def _reduce_round_sql(prev: str, i: int) -> str:
    """One unrolled reduction round (transitive-edge removal + tip
    trim) as DuckDB CTEs — one round of Graph.reduce_pipeline.

    Every CTE is MATERIALIZED: DuckDB inlines plain CTEs at each
    reference, so unrolling k rounds (each referencing the previous
    round several times) would otherwise duplicate the base parquet
    scan exponentially in k — at 3 rounds that exhausts file handles
    before it finishes (round-3 finding)."""
    return f"""
p{i} AS MATERIALIZED (SELECT e1.s AS s, e2.d AS d FROM {prev} e1 JOIN {prev} e2 ON e1.d = e2.s),
s{i} AS MATERIALIZED (SELECT e.s, e.d FROM {prev} e WHERE NOT EXISTS
         (SELECT 1 FROM p{i} WHERE p{i}.s = e.s AND p{i}.d = e.d)),
ends{i} AS MATERIALIZED (SELECT s AS v, d AS nbr FROM s{i} UNION ALL SELECT d, s FROM s{i}),
deg{i} AS MATERIALIZED (SELECT v, count(*) AS degree FROM ends{i} GROUP BY v),
tips{i} AS MATERIALIZED (SELECT DISTINCT e.v FROM ends{i} e
            JOIN deg{i} dv ON dv.v = e.v AND dv.degree = 1
            JOIN deg{i} dn ON dn.v = e.nbr AND dn.degree >= 3),
r{i} AS MATERIALIZED (SELECT s, d FROM s{i} WHERE s NOT IN (SELECT v FROM tips{i})
                                 AND d NOT IN (SELECT v FROM tips{i}))"""


@query(
    "qg11_reduce_two_rounds",
    oracle=(
        f"WITH eco AS MATERIALIZED ({E_CO_SMALL_SQL}),"
        f"{_reduce_round_sql('eco', 1)},{_reduce_round_sql('r1', 2)}\n"
        "SELECT s, d FROM r2 ORDER BY s, d"
    ),
    doc="Two unrolled rounds of the SORA reduction loop (transitive "
    "edge removal + tip trim) on the bounded co-occurrence graph — the "
    "SQL-expressible twin of Graph.reduce_pipeline(max_iter=2), "
    "hash-checked edge list. The full fixpoint (qg12) and the sf0.1 "
    "bench (q10) build on the same loop body.",
    tags=("graph", "reduction"),
)
def qg11_reduce_two_rounds(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    return Graph(e_co_small(li)).reduce_pipeline(max_iter=2).orderBy("s", "d")


@query(
    "qg11b_reduce_to_fixpoint",
    oracle=(
        f"WITH eco AS MATERIALIZED ({E_CO_SMALL_SQL}),"
        f"{_reduce_round_sql('eco', 1)},{_reduce_round_sql('r1', 2)},"
        f"{_reduce_round_sql('r2', 3)},{_reduce_round_sql('r3', 4)}\n"
        "SELECT s, d FROM r4 ORDER BY s, d"
    ),
    doc="The FULL convergence loop (reduce_pipeline) on the bounded "
    "co-occurrence graph, hash-checked against 4 unrolled SQL rounds. "
    "Rounds only REMOVE edges, so any unroll >= rounds-to-fixpoint is "
    "exactly the fixpoint (round applied at fixpoint is identity) — "
    "measured 2 rounds at sf0.001/sf0.01 and 3 at sf0.1 (round-5 "
    "calibration), 4 gives margin at every calibrated sf. This "
    "certifies the driver-side convergence check (count barrier) that "
    "qg11's fixed 2-round unroll cannot, closing the one no-oracle "
    "registry row flagged in round 2.",
    tags=("graph", "reduction", "fixpoint"),
)
def qg11b_reduce_to_fixpoint(spark, sf_dir):
    _require_calibrated_sf(sf_dir, "qg11b (4 unrolled rounds)")
    li = tables(spark, sf_dir).lineitem
    return (
        Graph(e_co_small(li))
        .reduce_pipeline(max_iter=10)
        .orderBy("s", "d")
    )


def _trim_round_sql(prev: str, i: int) -> str:
    """One tip-trim-ONLY round as MATERIALIZED DuckDB CTEs. Valid as
    the full-round oracle twin for rounds >= 2 of reduce_pipeline by
    the round-1-only-transitive proof (Graph.reduce_pipeline): edge
    removal never creates a 2-path, so the transitive stage is the
    identity from round 2 on and the oracle may skip it — which is
    what makes the FULL-graph qg12 oracle affordable (one 2-path join
    total instead of one per unrolled round)."""
    return f"""
fe{i} AS MATERIALIZED (SELECT s AS v, d AS nbr FROM {prev} UNION ALL SELECT d, s FROM {prev}),
fd{i} AS MATERIALIZED (SELECT v, count(*) AS degree FROM fe{i} GROUP BY v),
ft{i} AS MATERIALIZED (SELECT DISTINCT e.v FROM fe{i} e
            JOIN fd{i} dv ON dv.v = e.v AND dv.degree = 1
            JOIN fd{i} dn ON dn.v = e.nbr AND dn.degree >= 3),
t{i} AS MATERIALIZED (SELECT s, d FROM {prev} WHERE s NOT IN (SELECT v FROM ft{i})
                              AND d NOT IN (SELECT v FROM ft{i}))"""


def _reduce_full_oracle_sql(max_iter: int = 5) -> str:
    """Hash-tier oracle for qg12: replay the CAPPED reduce_pipeline
    loop on the FULL co-occurrence graph and reconstruct its
    (n_edges_final, rounds, edge_counts) summary from an unrolled
    count sequence. Structure: one transitive-removal pass (s1), then
    max_iter tip-trim rounds t1..tU (identity-from-round-2 proof makes
    that the exact full-round sequence). Loop-semantics reconstruction
    (mirrors graph/graph.py reduce_pipeline exactly):

    - tips-empty detection <=> the round's trim removed no edge (every
      tip has an incident edge, so nonempty tips always remove >= 1);
    - round 1 detects on tips(s1): c1 == count(s1) <=> empty, and the
      loop then appends count(s1) itself -> rounds = 1;
    - rounds k >= 2 detect via c_k == c_(k-1) and append the previous
      count (equal values, so the string matches either way);
    - no convergence within the unroll <=> the Spark loop also ran all
      max_iter rounds (unroll == max_iter), so COALESCE(det, max_iter)
      reproduces the cap with NO sf calibration requirement — unlike
      the qg11b-family unrolls, this oracle is exact at ANY sf.

    Verified value-identical to the Spark summary at sf0.001
    (rounds=2, [8899, 404, 404]), sf0.01 (rounds=1, [115729, 19925])
    and sf0.1 (rounds=1, [1196000, 400742]); DuckDB side 6.2 s at
    sf0.1."""
    parts = [
        f"WITH eco AS MATERIALIZED ({E_CO_SQL}), "
        "p1 AS MATERIALIZED (SELECT e1.s AS s, e2.d AS d "
        "FROM eco e1 JOIN eco e2 ON e1.d = e2.s), "
        "s1 AS MATERIALIZED (SELECT e.s, e.d FROM eco e WHERE NOT EXISTS "
        "(SELECT 1 FROM p1 WHERE p1.s = e.s AND p1.d = e.d))"
    ]
    prev = "s1"
    for i in range(1, max_iter + 1):
        parts.append(_trim_round_sql(prev, i))
        prev = f"t{i}"
    cnt_rows = [
        "SELECT -1 AS i, count(*) AS n FROM s1",
        "SELECT 0, count(*) FROM eco",
    ] + [f"SELECT {i}, count(*) FROM t{i}" for i in range(1, max_iter + 1)]
    parts.append("cnt AS MATERIALIZED (" + " UNION ALL ".join(cnt_rows) + ")")
    parts.append(
        "det AS (SELECT CASE WHEN (SELECT n FROM cnt WHERE i = 1) = "
        "(SELECT n FROM cnt WHERE i = -1) THEN 1 "
        "ELSE COALESCE((SELECT min(a.i) FROM cnt a JOIN cnt b "
        f"ON b.i = a.i - 1 WHERE a.i >= 2 AND a.n = b.n), {max_iter}) "
        "END AS r)"
    )
    return ",".join(parts) + """
SELECT (SELECT n FROM cnt WHERE i = (SELECT r FROM det)) AS n_edges_final,
       CAST((SELECT r FROM det) AS BIGINT) AS rounds,
       '[' || (SELECT string_agg(CAST(n AS VARCHAR), ', ' ORDER BY i)
               FROM cnt WHERE i BETWEEN 0 AND (SELECT r FROM det)) || ']'
           AS edge_counts"""


@query(
    "qg12_reduce_pipeline",
    oracle=_reduce_full_oracle_sql(max_iter=5),
    doc="Full SORA reduction loop to fixpoint on the FULL co-occurrence "
    "graph: per-round edge counts + rounds as a single summary row. "
    "Bench q10 measures this path at sf0.1. PROMOTED to the hash tier "
    "(round 8): the loop summary is reconstructed in SQL from a "
    "round-1-transitive + unrolled-trim count sequence — see "
    "_reduce_full_oracle_sql for the equivalence argument; unroll == "
    "max_iter makes it exact at any sf, closing the registry's last "
    "no-oracle row.",
    tags=("graph", "reduction", "fixpoint"),
)
def qg12_reduce_pipeline(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    stats: dict = {}
    edges = Graph(e_co(li)).reduce_pipeline(max_iter=5, stats=stats)
    n_final = edges.count()
    return spark.createDataFrame(
        [(n_final, stats["rounds"], str(stats["edge_counts"]))],
        "n_edges_final BIGINT, rounds BIGINT, edge_counts STRING",
    )


def _bubble_round_sql(prev: str, i: int) -> str:
    """One unrolled bubble-pop round as MATERIALIZED DuckDB CTEs — the
    oracle twin of Graph.pop_bubbles_round (keep the minimum mid of
    every >=2-mid bubble pair, remove the other mids' edges). Monotone
    (only removes edges), so the qg11b unroll-past-fixpoint argument
    applies unchanged."""
    return f"""
btp{i} AS MATERIALIZED (SELECT DISTINCT e1.s AS u, e1.d AS x, e2.d AS w
            FROM {prev} e1 JOIN {prev} e2 ON e1.d = e2.s),
bag{i} AS MATERIALIZED (SELECT u, w, min(x) AS keep FROM btp{i}
            GROUP BY u, w HAVING count(DISTINCT x) >= 2),
brm{i} AS MATERIALIZED (
  SELECT u AS s, x AS d FROM btp{i} JOIN bag{i} USING (u, w) WHERE x <> keep
  UNION
  SELECT x AS s, w AS d FROM btp{i} JOIN bag{i} USING (u, w) WHERE x <> keep),
b{i} AS MATERIALIZED (SELECT e.s, e.d FROM {prev} e WHERE NOT EXISTS
        (SELECT 1 FROM brm{i} r WHERE r.s = e.s AND r.d = e.d))"""


# Unrolled-round budget for the staged assembly fixpoint (qg16/qg17).
# Measured rounds-to-fixpoint on e_co_small (round-6 calibration):
# reduce 2/2/3 at sf0.001/0.01/0.1 (unroll 4, same as qg11b), bubble
# pop 2 everywhere (unroll 3 gives margin).
_ASSEMBLY_SQL_PREFIX = (
    f"WITH RECURSIVE eco AS MATERIALIZED ({E_CO_SMALL_SQL}),"
    f"{_reduce_round_sql('eco', 1)},{_reduce_round_sql('r1', 2)},"
    f"{_reduce_round_sql('r2', 3)},{_reduce_round_sql('r3', 4)},"
    f"{_bubble_round_sql('r4', 1)},{_bubble_round_sql('b1', 2)},"
    f"{_bubble_round_sql('b2', 3)}"
)


@query(
    "qg16_assembly_pipeline",
    oracle=(
        _ASSEMBLY_SQL_PREFIX + "\nSELECT s, d FROM b3 ORDER BY s, d"
    ),
    doc="The FULL SORA assembly reduction (SURVEY §0.3 steps 2-4) as "
    "one composed fixpoint: transitive-reduction + tip-trim loop to "
    "fixpoint, then bubble-pop loop to fixpoint, on the bounded "
    "co-occurrence graph — hash-checked edge list against 4+3 "
    "unrolled SQL rounds. Both stages only remove edges, so any "
    "unroll >= rounds-to-fixpoint IS the fixpoint (qg11b argument "
    "extended to the staged composition). Closes the round-5 gap: "
    "reduce_pipeline alone covered steps 2-3 only.",
    tags=("graph", "reduction", "fixpoint", "assembly"),
)
def qg16_assembly_pipeline(spark, sf_dir):
    _require_calibrated_sf(sf_dir, "qg16 (4+3 unrolled rounds)")
    li = tables(spark, sf_dir).lineitem
    return (
        Graph(e_co_small(li))
        .assembly_pipeline(max_iter=10)
        .orderBy("s", "d")
    )


@query(
    "qg17_unitigs",
    oracle=(
        _ASSEMBLY_SQL_PREFIX
        + """,
dout AS (SELECT s, count(*) AS c FROM b3 GROUP BY s),
din AS (SELECT d, count(*) AS c FROM b3 GROUP BY d),
ce AS MATERIALIZED (
  SELECT e.s, e.d FROM b3 e
  JOIN dout ON dout.s = e.s AND dout.c = 1
  JOIN din  ON din.d  = e.d AND din.c  = 1),
walk(start, v, len) AS (
  SELECT s, d, 1 FROM ce WHERE s NOT IN (SELECT d FROM ce)
  UNION ALL
  SELECT w2.start, c.d, w2.len + 1 FROM walk w2 JOIN ce c ON c.s = w2.v)
SELECT start, arg_max(v, len) AS "end",
       CAST(max(len) AS BIGINT) AS length
FROM walk GROUP BY start ORDER BY start"""
    ),
    doc="SURVEY §0.3 step 5 composed onto the assembly result: "
    "compact the non-branching chain subgraph (edges whose source has "
    "out-degree 1 and destination in-degree 1) of the qg16 fixpoint "
    "graph into unitigs (start, end, length) by pointer doubling — "
    "O(log chain-length) rounds. Oracle: recursive-CTE chain walk on "
    "the same unrolled fixpoint (cycle-free: e_co edges ascend s < d). "
    "With qg16 this certifies the reference's identity pipeline "
    "end-to-end: reduce → tips → bubbles → compaction.",
    tags=("graph", "compaction", "assembly"),
)
def qg17_unitigs(spark, sf_dir):
    _require_calibrated_sf(sf_dir, "qg17 (4+3 unrolled rounds)")
    li = tables(spark, sf_dir).lineitem
    edges = Graph(e_co_small(li)).assembly_pipeline(max_iter=10)
    ce = Graph(edges).chain_edges()
    return (
        Graph(ce)
        .compact_chains()
        .select(
            "start", "end", F.col("length").cast("bigint").alias("length")
        )
        .orderBy("start")
    )


@query(
    "qg18_unitig_paths",
    oracle=(
        _ASSEMBLY_SQL_PREFIX
        + """,
dout AS (SELECT s, count(*) AS c FROM b3 GROUP BY s),
din AS (SELECT d, count(*) AS c FROM b3 GROUP BY d),
ce AS MATERIALIZED (
  SELECT e.s, e.d FROM b3 e
  JOIN dout ON dout.s = e.s AND dout.c = 1
  JOIN din  ON din.d  = e.d AND din.c  = 1),
walk(start, v, len, path) AS (
  SELECT s, d, 1, CAST(s AS VARCHAR) || '-' || CAST(d AS VARCHAR)
  FROM ce WHERE s NOT IN (SELECT d FROM ce)
  UNION ALL
  SELECT w2.start, c.d, w2.len + 1, w2.path || '-' || CAST(c.d AS VARCHAR)
  FROM walk w2 JOIN ce c ON c.s = w2.v)
SELECT start, arg_max(path, len) AS path
FROM walk GROUP BY start ORDER BY start"""
    ),
    doc="SURVEY §0.3 step 5, full output form: the MERGED unitig paths "
    "('-'-joined vertex chain, the assembly analog of concatenating "
    "read sequences into the contig) — pointer doubling carries the "
    "label alongside the distance (compact_chains with_paths), so "
    "reconstruction is O(log chain-length) rounds with the label "
    "concatenation riding the same joins. Oracle: the qg17 recursive "
    "walk extended with string accumulation. The path hash certifies "
    "VERTEX ORDER along every chain, which qg17's (start, end, "
    "length) cannot.",
    tags=("graph", "compaction", "assembly"),
)
def qg18_unitig_paths(spark, sf_dir):
    _require_calibrated_sf(sf_dir, "qg18 (4+3 unrolled rounds)")
    li = tables(spark, sf_dir).lineitem
    edges = Graph(e_co_small(li)).assembly_pipeline(max_iter=10)
    ce = Graph(edges).chain_edges()
    return (
        Graph(ce)
        .compact_chains(with_paths=True)
        .select("start", "path")
        .orderBy("start")
    )


def _kcore_round_sql(prev: str, i: int, k: int) -> str:
    """One unrolled k-core peel round as MATERIALIZED DuckDB CTEs
    (same unroll-past-fixpoint trick as the reduction oracle: peeling
    only removes, so a round applied at the fixpoint is identity)."""
    return f"""
kd{i} AS MATERIALIZED (SELECT s FROM {prev} GROUP BY s
                       HAVING count(*) >= {k}),
ke{i} AS MATERIALIZED (SELECT e.s, e.d FROM {prev} e
                       WHERE e.s IN (SELECT s FROM kd{i})
                         AND e.d IN (SELECT s FROM kd{i}))"""


_KCORE_K = 20
_KCORE_ROUNDS = 9  # measured fixpoint: 7 rounds at sf0.01, 1 at sf0.001


@query(
    "qg13_kcore",
    oracle=(
        f"WITH eco AS MATERIALIZED ({E_CO_SMALL_SQL}),\n"
        "sym AS MATERIALIZED (SELECT s, d FROM (SELECT s, d FROM eco "
        "UNION SELECT d, s FROM eco)),\n"
        + ",".join(
            _kcore_round_sql("sym" if i == 0 else f"ke{i - 1}", i, _KCORE_K)
            for i in range(_KCORE_ROUNDS)
        )
        + f"\nSELECT DISTINCT s AS v FROM ke{_KCORE_ROUNDS - 1} ORDER BY v"
    ),
    doc=f"qg13: {_KCORE_K}-core of the bounded co-occurrence graph — "
    "iterative peeling to fixpoint (Spark side raises rather than "
    "returning a partial peel), hash-matched against "
    f"{_KCORE_ROUNDS} unrolled peel rounds (monotone: rounds only "
    "remove, so unroll >= fixpoint IS the fixpoint; measured 7 rounds "
    "at sf0.01). Upgrades k-core from the unit tier.",
    tags=("graph", "kcore", "fixpoint"),
)
def qg13_kcore(spark, sf_dir):
    _require_calibrated_sf(sf_dir, f"qg13 ({_KCORE_ROUNDS} unrolled peels)")
    li = tables(spark, sf_dir).lineitem
    return (
        Graph(e_co_small(li))
        .k_core(k=_KCORE_K, max_iter=2 * _KCORE_ROUNDS)
        .orderBy("v")
    )


def _sssp_weight_sql() -> str:
    return "1 + (s + d) % 3"


@query(
    "qg15_weighted_sssp",
    oracle=f"""
WITH RECURSIVE eco AS MATERIALIZED ({E_CO_SMALL_SQL}),
we AS MATERIALIZED (
  SELECT s, d, {_sssp_weight_sql()} AS w FROM eco),
src AS (SELECT min(s) AS v FROM eco),
walk(v, dist) AS (
  SELECT v, 0 FROM src
  UNION
  SELECT e.d, walk.dist + e.w FROM walk JOIN we e ON e.s = walk.v
  WHERE walk.dist + e.w <= 40
)
SELECT v, CAST(min(dist) AS INT) AS dist
FROM walk GROUP BY v ORDER BY v
""",
    doc="qg15: weighted single-source shortest paths (Bellman-Ford "
    "relaxation to convergence, DIRECTED edges, integer weights "
    "1+(s+d)%3) from the minimum vertex — hash-matched against a "
    "bounded recursive-CTE walk with min-aggregation (distances are "
    "small ints, so the walk's (v, dist) state space is |V|x40). "
    "Upgrades weighted shortest paths from the unit tier.",
    tags=("graph", "sssp", "fixpoint"),
)
def qg15_weighted_sssp(spark, sf_dir):
    _require_calibrated_sf(sf_dir, "qg15 (max_iter=15 relaxation bound)")
    li = tables(spark, sf_dir).lineitem
    g = Graph(e_co_small(li))
    e = g.edges.withColumn(
        "w", (1 + (F.col("s") + F.col("d")) % 3).cast("double")
    )
    src = e.agg(F.min("s").alias("v"))
    return (
        Graph(e)
        .shortest_paths(src, weight_col="w", max_iter=15)
        .filter(F.col("dist") <= 40)
        .select("v", F.col("dist").cast("int").alias("dist"))
        .orderBy("v")
    )


def _pagerank_round_sql(prev: str, i: int, damping: float = 0.85) -> str:
    """One unrolled PageRank power-iteration round as MATERIALIZED
    CTEs, mirroring Graph.pagerank exactly: dangling mass (vertices
    with no out-edges) redistributed uniformly, base = (1-d) +
    d*dangling/n."""
    return f"""
dang{i} AS MATERIALIZED (
  SELECT coalesce(sum(r.rank), 0.0) AS m FROM {prev} r
  WHERE r.v NOT IN (SELECT s FROM od)),
contrib{i} AS MATERIALIZED (
  SELECT e.d AS v, sum(r.rank / od.od) AS c
  FROM eco e JOIN {prev} r ON r.v = e.s JOIN od ON od.s = e.s
  GROUP BY e.d),
pr{i} AS MATERIALIZED (
  SELECT verts.v,
         (1.0 - {damping}) + {damping} * (SELECT m FROM dang{i}) / nv.n
         + {damping} * coalesce(c.c, 0.0) AS rank
  FROM verts CROSS JOIN nv LEFT JOIN contrib{i} c ON c.v = verts.v)"""


_PR_ROUNDS = 10


@query(
    "qg14_pagerank",
    oracle=(
        f"WITH eco AS MATERIALIZED ({E_CO_SMALL_SQL}),\n"
        "verts AS MATERIALIZED (SELECT DISTINCT v FROM "
        "(SELECT s AS v FROM eco UNION SELECT d FROM eco)),\n"
        "nv AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),\n"
        "od AS MATERIALIZED (SELECT s, CAST(count(*) AS DOUBLE) AS od "
        "FROM eco GROUP BY s),\n"
        "pr0 AS MATERIALIZED (SELECT v, 1.0 AS rank FROM verts),\n"
        + ",".join(
            _pagerank_round_sql(f"pr{i}", i + 1) for i in range(_PR_ROUNDS)
        )
        + f"\nSELECT v, round(rank, 6) AS rank FROM pr{_PR_ROUNDS} ORDER BY v"
    ),
    doc=f"qg14: PageRank, {_PR_ROUNDS} power-iteration rounds over the "
    "DIRECTED bounded co-occurrence graph (damping 0.85, dangling mass "
    "redistributed uniformly, ranks normalized to sum |V|) — "
    "hash-matched against the same rounds unrolled as SQL CTEs; "
    "round(rank, 6) absorbs cross-engine float-summation order "
    "(drift is ~1e-13 after 10 rounds, 7 orders under the rounding "
    "grain). Upgrades PageRank from the numpy-verified unit tier.",
    tags=("graph", "pagerank"),
)
def qg14_pagerank(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    return (
        Graph(e_co_small(li))
        .pagerank(n_iter=_PR_ROUNDS, damping=0.85)
        .select("v", F.round("rank", 6).alias("rank"))
        .orderBy("v")
    )


# ---- Read-derived assembly family (SURVEY §0.3 steps 1-5 FROM
# SEQUENCES) — round 6. The overlap graph is CONSTRUCTED from document
# text (sliding-window reads, exact suffix-prefix k-mer equi-join —
# sora_spark/graph/overlap.py), then reduced and compacted by the same
# operators the e_co family certifies. Round calibration (measured
# this round via assembly_pipeline stats): reduce fixpoint 2 rounds and
# bubble fixpoint 2 rounds at sf0.001/0.01/0.1 — unroll 3+3 gives one
# round of margin each; the monotone unroll-past-fixpoint argument
# (qg11b) applies to both stages. The overlap graph is a DAG at all
# three SFs (topological peel leaves 0 edges), so the recursive walk
# oracles are total.
_READ_ASSEMBLY_SQL_PREFIX = (
    f"WITH RECURSIVE reads AS MATERIALIZED ({READS_SQL}),\n"
    f"ov AS MATERIALIZED ({OVERLAP_SQL}),"
    f"{_reduce_round_sql('ov', 1)},{_reduce_round_sql('r1', 2)},"
    f"{_reduce_round_sql('r2', 3)},"
    f"{_bubble_round_sql('r3', 1)},{_bubble_round_sql('b1', 2)},"
    f"{_bubble_round_sql('b2', 3)}"
)

_READ_WALK_SQL = """,
dout AS (SELECT s, count(*) AS c FROM b3 GROUP BY s),
din AS (SELECT d, count(*) AS c FROM b3 GROUP BY d),
ce AS MATERIALIZED (
  SELECT e.s, e.d FROM b3 e
  JOIN dout ON dout.s = e.s AND dout.c = 1
  JOIN din  ON din.d  = e.d AND din.c  = 1),
walk(start, v, len) AS (
  SELECT s, d, 1 FROM ce WHERE s NOT IN (SELECT d FROM ce)
  UNION ALL
  SELECT w2.start, c.d, w2.len + 1 FROM walk w2 JOIN ce c ON c.s = w2.v)"""


@query(
    "qg19_overlap_graph",
    oracle=(
        f"WITH reads AS MATERIALIZED ({READS_SQL})\n"
        f"SELECT s, d FROM ({OVERLAP_SQL}) ORDER BY s, d"
    ),
    doc="SURVEY §0.3 step 1 — overlap-graph CONSTRUCTION from sequence "
    "data, the stage the engine previously only consumed (e_co stood "
    "in for it). Reads are deterministic sliding windows over "
    "documents.text (len 40, stride 20 → consecutive reads overlap by "
    "20 chars); edges are the exact suffix-prefix 20-mer equi-join. "
    "Full edge list hash-checked. Scale: map-side read expansion, one "
    "equi-join shuffle on the 20-mer key, candidates bounded by k-mer "
    "frequency (max 3 at sf0.01) — never all-pairs; overlap.py's "
    "max_key_freq adds repeat masking for adversarial corpora.",
    tags=("graph", "assembly", "overlap"),
)
def qg19_overlap_graph(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return overlap_edges(derive_reads(docs)).orderBy("s", "d")


@query(
    "qg20_read_assembly",
    oracle=(
        _READ_ASSEMBLY_SQL_PREFIX
        + _READ_WALK_SQL
        + """
SELECT start, arg_max(v, len) AS "end",
       CAST(max(len) AS BIGINT) AS length
FROM walk GROUP BY start ORDER BY start"""
    ),
    doc="SURVEY §0.3 steps 1-5 END-TO-END FROM SEQUENCES: derive reads "
    "→ suffix-prefix overlap join → transitive-reduction + tip-trim "
    "fixpoint → bubble-pop fixpoint → unitig compaction (pointer "
    "doubling), hash-checked against 3+3 unrolled SQL rounds plus a "
    "recursive chain walk. Unlike qg16/qg17 (bounded e_co graph), the "
    "input graph here is built from text the way SORA builds it from "
    "reads — this row certifies the reference's whole identity "
    "pipeline on its native input shape. The read graph genuinely "
    "exercises the reducers: 96 tips and 1088 bubble pairs at sf0.01.",
    tags=("graph", "assembly", "overlap", "fixpoint", "compaction"),
)
def qg20_read_assembly(spark, sf_dir):
    _require_calibrated_sf(sf_dir, "qg20 (3+3 unrolled rounds)")
    docs = tables(spark, sf_dir).documents
    ov = overlap_edges(derive_reads(docs))
    edges = Graph(ov).assembly_pipeline(max_iter=10)
    ce = Graph(edges).chain_edges()
    return (
        Graph(ce)
        .compact_chains()
        .select(
            "start", "end", F.col("length").cast("bigint").alias("length")
        )
        .orderBy("start")
    )


@query(
    "qg21_assembly_n50",
    oracle=(
        _READ_ASSEMBLY_SQL_PREFIX
        + _READ_WALK_SQL
        + """,
lens AS (SELECT CAST(max(len) + 1 AS BIGINT) AS len_v FROM walk GROUP BY start),
cum AS (SELECT len_v, sum(len_v) OVER (ORDER BY len_v DESC) AS cs FROM lens),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_unitigs,
               CAST(sum(len_v) AS BIGINT) AS total_len,
               CAST(max(len_v) AS BIGINT) AS max_len FROM lens)
SELECT n_unitigs, total_len, max_len,
  (SELECT CAST(max(len_v) AS BIGINT) FROM cum, tot WHERE 2*cs >= total_len) AS n50,
  (SELECT CAST(max(len_v) AS BIGINT) FROM cum, tot WHERE 10*cs >= 9*total_len) AS n90
FROM tot"""
    ),
    doc="Assembly-quality metrics over the read-derived unitig set "
    "(qg20's contigs): unitig count, total/max contig length (in "
    "vertices = reads), N50 and N90 — THE standard assembly summary "
    "statistics. N50 is computed order-free as max{L : sum of lengths "
    ">= L reaches half the total} (RANGE-framed cumulative sum "
    "includes ties on both engines, so tie order can't flip the "
    "hash). The global window runs on unitig-count-sized data — "
    "already reduced by orders of magnitude from the edge set — the "
    "same place a 100 TB assembly pipeline computes its report.",
    tags=("graph", "assembly", "stats"),
)
def qg21_assembly_n50(spark, sf_dir):
    _require_calibrated_sf(sf_dir, "qg21 (3+3 unrolled rounds)")
    docs = tables(spark, sf_dir).documents
    ov = overlap_edges(derive_reads(docs))
    edges = Graph(ov).assembly_pipeline(max_iter=10)
    ce = Graph(edges).chain_edges()
    lens = (
        Graph(ce)
        .compact_chains()
        .select((F.col("length") + 1).cast("bigint").alias("len_v"))
    )
    tot = lens.agg(
        F.count("*").cast("bigint").alias("n_unitigs"),
        F.sum("len_v").cast("bigint").alias("total_len"),
        F.max("len_v").cast("bigint").alias("max_len"),
    )
    # default RANGE frame (unbounded preceding → current row) includes
    # ties, matching DuckDB's sum() OVER (ORDER BY len_v DESC)
    cs = F.sum("len_v").over(Window.orderBy(F.desc("len_v")))
    cum = lens.select("len_v", cs.alias("cs")).crossJoin(F.broadcast(tot))
    marks = cum.agg(
        F.max(
            F.when(2 * F.col("cs") >= F.col("total_len"), F.col("len_v"))
        )
        .cast("bigint")
        .alias("n50"),
        F.max(
            F.when(10 * F.col("cs") >= 9 * F.col("total_len"), F.col("len_v"))
        )
        .cast("bigint")
        .alias("n90"),
    )
    return tot.crossJoin(F.broadcast(marks)).select(
        "n_unitigs", "total_len", "max_len", "n50", "n90"
    )


@query(
    "qg22_overlap_lengths",
    oracle=(
        "WITH reads AS MATERIALIZED ("
        + READS10_SQL
        + ")\n"
        + OVERLAP_MAX_SQL
        + " ORDER BY s, d"
    ),
    doc="Maximal-overlap edge attributes (the reference's edge schema "
    "carries overlap LENGTH, not just adjacency): stride-10 reads so "
    "adjacent windows overlap 30 chars and distance-2 windows overlap "
    "20; each candidate length >= the min-overlap cutoff (20) is one "
    "bounded equi-join, max kept per pair. Lengths below the cutoff "
    "are collision noise (2.9M spurious 10-mer edges vs 280k real at "
    "sf0.1 — measured, which is WHY assemblers have the cutoff).",
    tags=("graph", "assembly", "overlap"),
)
def qg22_overlap_lengths(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    reads = derive_reads(docs, read_len=40, stride=10)
    return (
        overlap_edges_max(reads, read_len=40, ovl_lengths=(30, 20))
        .select("s", "d", F.col("ovl").cast("int").alias("ovl"))
        .orderBy("s", "d")
    )


@query(
    "qg23_contig_sequences",
    oracle=(
        _READ_ASSEMBLY_SQL_PREFIX
        + """,
dout AS (SELECT s, count(*) AS c FROM b3 GROUP BY s),
din AS (SELECT d, count(*) AS c FROM b3 GROUP BY d),
ce AS MATERIALIZED (
  SELECT e.s, e.d FROM b3 e
  JOIN dout ON dout.s = e.s AND dout.c = 1
  JOIN din  ON din.d  = e.d AND din.c  = 1),
walk(start, v, contig) AS (
  SELECT c.s, c.d, ra.seq || substr(rb.seq, 21, 20)
  FROM ce c
  JOIN reads ra ON ra.read_id = c.s
  JOIN reads rb ON rb.read_id = c.d
  WHERE c.s NOT IN (SELECT d FROM ce)
  UNION ALL
  SELECT w.start, c.d, w.contig || substr(r.seq, 21, 20)
  FROM walk w
  JOIN ce c ON c.s = w.v
  JOIN reads r ON r.read_id = c.d)
SELECT start, arg_max(contig, length(contig)) AS contig,
       CAST(max(length(contig)) AS BIGINT) AS n_chars
FROM walk GROUP BY start ORDER BY start"""
    ),
    doc="SURVEY §0.3 step 5's REAL output: contig STRINGS — read "
    "sequences merged along the assembled unitig chains (first read "
    "verbatim + each successor's 20-char non-overlap suffix), hashed "
    "character-for-character against the recursive walk with string "
    "accumulation. The strongest end-to-end statement in the family: "
    "text in, reduced graph, text back out. Within-document chains "
    "reconstruct verbatim substrings of the source documents "
    "(pinned in tests/test_graph.py); cross-document k-mer-collision "
    "chains merge into chimeras exactly as a real assembler would.",
    tags=("graph", "assembly", "compaction", "overlap"),
)
def qg23_contig_sequences(spark, sf_dir):
    from sora_spark.graph.overlap import contig_sequences

    _require_calibrated_sf(sf_dir, "qg23 (3+3 unrolled rounds)")
    docs = tables(spark, sf_dir).documents
    reads = derive_reads(docs)
    edges = Graph(overlap_edges(reads)).assembly_pipeline(max_iter=10)
    ce = Graph(edges).chain_edges()
    chains = Graph(ce).compact_chains(with_paths=True)
    return (
        contig_sequences(reads, chains)
        .withColumn("n_chars", F.length("contig").cast("bigint"))
        .orderBy("start")
    )


@query(
    "qg24_masked_overlap_graph",
    oracle=(
        f"WITH reads AS MATERIALIZED ({READS_SQL}),\n"
        "hot AS (SELECT substr(seq, 1, 20) AS k FROM reads\n"
        "        GROUP BY 1 HAVING count(*) > 2)\n"
        "SELECT s, d FROM (\n"
        "  SELECT a.read_id AS s, b.read_id AS d,\n"
        "         substr(b.seq, 1, 20) AS k\n"
        "  FROM reads a JOIN reads b\n"
        "    ON substr(a.seq, 21, 20) = substr(b.seq, 1, 20)\n"
        "   AND a.read_id <> b.read_id)\n"
        "WHERE k NOT IN (SELECT k FROM hot)\n"
        "ORDER BY s, d"
    ),
    doc="qg19's repeat-masking guard under the hash gate: the overlap "
    "join with max_key_freq=2 must drop exactly the edges whose "
    "20-mer occurs as a prefix more than twice (the assembler's "
    "repeat cutoff) and keep every other edge — certifying the 100 TB "
    "hot-key guard's SEMANTICS, not just that it runs. The masked "
    "k-mer table is broadcast into anti-joins on both sides; the "
    "oracle applies the equivalent NOT IN on the shared join key.",
    tags=("graph", "assembly", "overlap", "scale"),
)
def qg24_masked_overlap_graph(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return (
        overlap_edges(derive_reads(docs), max_key_freq=2)
        .orderBy("s", "d")
    )


def _lpa_round_sql(prev: str, i: int) -> str:
    """One unrolled synchronous-LPA round: count labels over the
    distinct symmetric neighbor set, adopt (cnt DESC, lab ASC) top-1.
    Mirrors Graph.label_propagation exactly."""
    return (
        f"c{i} AS (SELECT e.s AS v, l.lab AS lab, count(*) AS cnt\n"
        f"         FROM sym e JOIN {prev} l ON l.v = e.d GROUP BY 1, 2),\n"
        f"l{i} AS (SELECT v, lab FROM (\n"
        f"           SELECT v, lab, row_number() OVER (PARTITION BY v\n"
        f"             ORDER BY cnt DESC, lab) AS rn FROM c{i}) WHERE rn = 1)"
    )


_LPA_ROUNDS = 2


@query(
    "qg25_label_propagation",
    oracle=(
        f"WITH eco AS MATERIALIZED ({E_CO_SMALL_SQL}),\n"
        "sym AS MATERIALIZED (SELECT s, d FROM eco "
        "UNION SELECT d, s FROM eco),\n"
        "l0 AS (SELECT DISTINCT s AS v, s AS lab FROM sym),\n"
        + ",\n".join(
            _lpa_round_sql(f"l{i}", i + 1) for i in range(_LPA_ROUNDS)
        )
        + f"\nSELECT v, lab FROM l{_LPA_ROUNDS} ORDER BY v"
    ),
    doc=f"qg25: community detection by synchronous label propagation, "
    f"{_LPA_ROUNDS} declared rounds over the bounded co-occurrence "
    "graph (Graph.label_propagation) — per round one edges-x-labels "
    "equi-join + per-vertex argmax window, deterministic via the "
    "(count DESC, label ASC) tie-break. Hash-matched against the "
    "unrolled-CTE twin. Fixed round count IS the contract: sync LPA "
    "has no order-free fixpoint guarantee (it can 2-cycle on "
    "bipartite structure), so round-count semantics is what a "
    "distributed engine can promise deterministically.",
    tags=("graph", "community"),
)
def qg25_label_propagation(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    return (
        Graph(e_co_small(li))
        .label_propagation(n_rounds=_LPA_ROUNDS)
        .orderBy("v")
    )


@query(
    "qg26_kmer_spectrum",
    oracle="""
WITH seqs AS (SELECT text FROM documents WHERE len(text) >= 8),
pos AS (SELECT text, unnest(range(1, len(text) - 8 + 2)) AS i FROM seqs),
km AS (SELECT substr(text, CAST(i AS INT), 8) AS kmer FROM pos),
cnt AS (SELECT kmer, count(*) AS c FROM km GROUP BY kmer)
SELECT CAST(c AS BIGINT) AS multiplicity, CAST(count(*) AS BIGINT) AS n_kmers
FROM cnt GROUP BY c ORDER BY multiplicity
""",
    doc="qg26: k-mer multiplicity spectrum (k=8) over documents.text "
    "(graph/overlap.py kmer_spectrum) — the coverage histogram that "
    "precedes every assembly run and sets the abundance-filter "
    "cutoffs. JVM-side substring explode -> count -> count-of-counts; "
    "the only data wider than the histogram ever shuffled is "
    "map-side-combined (kmer, partial count) pairs. Under-k texts "
    "excluded on BOTH sides (Spark sequence(1,0) would descend).",
    tags=("graph", "assembly", "kmer"),
)
def qg26_kmer_spectrum(spark, sf_dir):
    from sora_spark.graph.overlap import kmer_spectrum

    docs = tables(spark, sf_dir).documents
    return kmer_spectrum(docs, "text", k=8).orderBy("multiplicity")


@query(
    "qg27_topo_levels",
    oracle=(
        f"WITH RECURSIVE reads AS MATERIALIZED ({READS_SQL}),\n"
        f"e AS MATERIALIZED ({OVERLAP_SQL}),\n"
        "verts AS (SELECT s AS v FROM e UNION SELECT d FROM e),\n"
        "src AS (SELECT v FROM verts WHERE v NOT IN (SELECT d FROM e)),\n"
        "walk(v, depth) AS (\n"
        "  SELECT v, 0 FROM src\n"
        "  UNION\n"
        "  SELECT e.d, w.depth + 1 FROM walk w JOIN e ON e.s = w.v)\n"
        "SELECT v, CAST(max(depth) AS INT) AS level\n"
        "FROM walk GROUP BY v ORDER BY v"
    ),
    doc="qg27: topological levels of the read-overlap DAG "
    "(Graph.topological_levels) — Kahn peel where a vertex's level is "
    "the LONGEST source path reaching it (equals the recursive-walk "
    "max-depth oracle). The scheduling order for any DAG-shaped "
    "pipeline (assembly chains, task graphs); raises on cycles "
    "instead of emitting a partial order. Rounds = structural depth, "
    "flat across sf (reads-per-document), each a shrinking anti-join.",
    tags=("graph", "assembly", "dag"),
)
def qg27_topo_levels(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    ov = overlap_edges(derive_reads(docs))
    return (
        Graph(ov)
        .topological_levels()
        .select("v", F.col("level").cast("int").alias("level"))
        .orderBy("v")
    )


@query(
    "qg28_local_clustering",
    oracle=f"""
WITH eco AS MATERIALIZED ({E_CO_SMALL_SQL}),
tri AS (SELECT e1.s AS a, e1.d AS b, e2.d AS c
        FROM eco e1 JOIN eco e2 ON e1.d = e2.s
        JOIN eco e3 ON e3.s = e1.s AND e3.d = e2.d),
corners AS (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri),
pv AS (SELECT v, count(*) AS t FROM corners GROUP BY v),
deg AS (SELECT v, count(*) AS degree FROM (
          SELECT s AS v FROM eco UNION ALL SELECT d FROM eco) GROUP BY v)
SELECT deg.v, CAST(deg.degree AS BIGINT) AS degree,
       round(CASE WHEN deg.degree < 2 THEN 0.0
                  ELSE 2.0 * COALESCE(pv.t, 0)
                       / (deg.degree * (deg.degree - 1)) END, 6) AS coef
FROM deg LEFT JOIN pv USING (v) ORDER BY deg.v
""",
    doc="qg28: per-vertex local clustering coefficient on the bounded "
    "co-occurrence graph (Graph.local_clustering) — 2*triangles(v) / "
    "deg(v)(deg(v)-1), the neighborhood-density signal. One canonical "
    "wedge join charges each triangle to its three corners via a "
    "single explode; degrees reuse the symmetric count. round(,6) on "
    "the ratio only.",
    tags=("graph", "triangles"),
)
def qg28_local_clustering(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    g = Graph(e_co_small(li))
    return g.local_clustering().select(
        "v", "degree", F.round("coef", 6).alias("coef")
    ).orderBy("v")


@query(
    "qg29_coverage_depth",
    oracle="""
WITH docs AS (SELECT doc_id, n_chars FROM documents WHERE n_chars >= 40),
wins AS (SELECT doc_id, n_chars,
                unnest(range(0, CAST(floor((n_chars - 40) / 20.0)
                                     AS BIGINT) + 1)) AS i
         FROM docs),
cov AS (SELECT doc_id, unnest(range(i*20 + 1, i*20 + 41)) AS pos FROM wins),
per_pos AS (SELECT doc_id, pos, count(*) AS depth FROM cov
            GROUP BY doc_id, pos),
all_pos AS (SELECT doc_id, unnest(range(1, n_chars + 1)) AS pos
            FROM documents),
full_cov AS (SELECT COALESCE(p.depth, 0) AS depth
             FROM all_pos a LEFT JOIN per_pos p
               ON a.doc_id = p.doc_id AND a.pos = p.pos)
SELECT CAST(depth AS BIGINT) AS depth,
       CAST(count(*) AS BIGINT) AS n_positions
FROM full_cov GROUP BY depth ORDER BY depth
""",
    doc="qg29: depth-of-coverage (pileup) histogram of the derived "
    "read set over source positions (graph/overlap.py "
    "coverage_depth) — the assembler's QC track: depth-0 rows are "
    "holes past the last full window, spikes are over-sampling. "
    "Read×position explode with map-side combine; histogram-sized "
    "output. Zero-coverage tail positions counted, not clipped; "
    "docs shorter than read_len contribute all-depth-0 positions "
    "(ADVICE r06 — previously excluded entirely).",
    tags=("graph", "assembly", "coverage"),
)
def qg29_coverage_depth(spark, sf_dir):
    from sora_spark.graph.overlap import coverage_depth

    docs = tables(spark, sf_dir).documents
    return coverage_depth(docs).orderBy("depth")


@query(
    "qg30_bwt",
    oracle="""
WITH d AS (SELECT doc_id, text || chr(1) AS t FROM documents
           WHERE doc_id < 3),
pos AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM d),
rot AS (SELECT doc_id,
               substr(t, CAST(i AS INT))
                 || substr(t, 1, CAST(i AS INT) - 1) AS rot,
               CASE WHEN i = 1 THEN substr(t, len(t), 1)
                    ELSE substr(t, CAST(i AS INT) - 1, 1) END AS ch
        FROM pos)
SELECT doc_id AS id, string_agg(ch, '' ORDER BY rot) AS bwt
FROM rot GROUP BY doc_id ORDER BY id
""",
    doc="qg30: Burrows-Wheeler transform of the first three documents "
    "(graph/overlap.py bwt) — the FM-index precursor, built with the "
    "engine's native shapes: rotation explode (map-side substring "
    "arithmetic), a distributed sort over rotation strings, ordered "
    "aggregation. Character-for-character hash-matched against the "
    "sorted-rotation SQL; the \\x01 sentinel sorts first under the "
    "byte order BOTH engines use. The same explode+sort shape is how "
    "a cluster BWTs a reference too large for one machine.",
    tags=("graph", "assembly", "bwt"),
)
def qg30_bwt(spark, sf_dir):
    from sora_spark.graph.overlap import bwt

    docs = tables(spark, sf_dir).documents.filter(F.col("doc_id") < 3)
    return (
        bwt(docs)
        .select(F.col("id"), "bwt")
        .orderBy("id")
    )


@query(
    "qg31_scaffold_links",
    oracle=(
        _READ_ASSEMBLY_SQL_PREFIX
        + """,
dout2 AS (SELECT s, count(*) AS c FROM b3 GROUP BY s),
din2 AS (SELECT d, count(*) AS c FROM b3 GROUP BY d),
ce AS MATERIALIZED (
  SELECT e.s, e.d FROM b3 e
  JOIN dout2 ON dout2.s = e.s AND dout2.c = 1
  JOIN din2  ON din2.d  = e.d AND din2.c  = 1),
sym AS MATERIALIZED (SELECT s, d FROM ce UNION SELECT d, s FROM ce),
reach(v, u) AS (
  SELECT s, s FROM sym
  UNION
  SELECT r.v, e.d FROM reach r JOIN sym e ON r.u = e.s),
comp AS (SELECT v, min(u) AS c FROM reach GROUP BY v),
contig AS (SELECT r.read_id,
                  COALESCE(comp.c, r.read_id) AS cid
           FROM reads r LEFT JOIN comp ON comp.v = r.read_id),
mates AS (SELECT a.read_id AS ra, b.read_id AS rb
          FROM reads a JOIN reads b ON b.read_id = a.read_id + 5
          WHERE a.read_id // 1000 = b.read_id // 1000),
links AS (SELECT least(ca.cid, cb.cid) AS ca,
                 greatest(ca.cid, cb.cid) AS cb
          FROM mates m
          JOIN contig ca ON ca.read_id = m.ra
          JOIN contig cb ON cb.read_id = m.rb
          WHERE ca.cid <> cb.cid)
SELECT ca, cb, CAST(count(*) AS BIGINT) AS n_links
FROM links GROUP BY ca, cb ORDER BY ca, cb"""
    ),
    doc="SURVEY §0.3's NEXT stage — scaffolding: link assembled "
    "contigs via mate pairs (deterministic mates: window i and i+5 of "
    "the same document, the fixed-insert paired-read analog). Contig "
    "identity = connected component of the post-assembly chain "
    "subgraph (reads off any chain are singleton contigs); a mate "
    "pair whose ends land in DIFFERENT contigs becomes a scaffold "
    "edge, counted per unordered contig pair. All equi-joins on read "
    "ids — mate pairing is an id-arithmetic join, never positional "
    "search. Oracle: the qg20 3+3 unrolled prefix + chain-component "
    "closure + the same pair algebra.",
    tags=("graph", "assembly", "scaffold"),
)
def qg31_scaffold_links(spark, sf_dir):
    _require_calibrated_sf(sf_dir, "qg31 (3+3 unrolled rounds)")
    docs = tables(spark, sf_dir).documents
    reads = derive_reads(docs)
    edges = Graph(overlap_edges(reads)).assembly_pipeline(max_iter=10)
    ce = Graph(edges).chain_edges()
    cc = Graph(ce).connected_components()
    contig = reads.select("read_id").join(
        cc, reads.read_id == cc.v, "left"
    ).select(
        "read_id", F.coalesce(F.col("component"), F.col("read_id")).alias("cid")
    )
    a = reads.select(F.col("read_id").alias("ra"))
    b = reads.select(F.col("read_id").alias("rb"))
    mates = a.join(b, F.col("rb") == F.col("ra") + 5).filter(
        F.floor(F.col("ra") / 1000) == F.floor(F.col("rb") / 1000)
    )
    ca = contig.withColumnRenamed("read_id", "ra").withColumnRenamed(
        "cid", "cid_a"
    )
    cb = contig.withColumnRenamed("read_id", "rb").withColumnRenamed(
        "cid", "cid_b"
    )
    links = (
        mates.join(ca, "ra")
        .join(cb, "rb")
        .filter(F.col("cid_a") != F.col("cid_b"))
        .select(
            F.least("cid_a", "cid_b").alias("ca"),
            F.greatest("cid_a", "cid_b").alias("cb"),
        )
    )
    return (
        links.groupBy("ca", "cb")
        .agg(F.count("*").cast("bigint").alias("n_links"))
        .orderBy("ca", "cb")
    )


def _msf_oracle_sql(rounds: int = 10) -> str:
    """Unrolled-Borůvka DuckDB oracle for qg33 (VERDICT r06 item 3 —
    promotes MSF from rows-tier to the full hash tier).

    Soundness: `e_co_small` bounds partkeys < 500, so the graph has
    ≤ 499 vertices at ANY scale factor, and Borůvka at least halves
    the component count per round ⇒ ceil(log2(499)) = 9 rounds always
    converge; we unroll 10 (extra rounds are provable no-ops: once a
    component has no outgoing edge it picks nothing and keeps its
    label). Edge ranks are row_number() over the (w, s, d) total
    order — the same tie-break the Spark Borůvka uses — so the MSF is
    unique and the two engines select identical edges. Each round:
    component-labelled edges → per-component min-rank pick →
    qg4-style recursive-closure contraction of the picked-edge
    component graph (second-order small: ≤ #components vertices).
    The summary row (n_edges, total_weight, n_trees) is additionally
    tie-invariant (all MSFs share the weight multiset), so the gate
    is robust even to tie-break drift.
    """
    # AS MATERIALIZED on the multiply-referenced bases: DuckDB inlines
    # plain CTEs at every reference, so 10 rounds × edges0 would
    # re-open the lineitem parquet dozens of times (EMFILE) and blow
    # up the plan
    parts = [
        f"eco AS MATERIALIZED ({E_CO_SMALL_SQL})",
        "edges0 AS MATERIALIZED (SELECT s, d,"
        " CAST(1 + (s + d) % 3 AS DOUBLE) AS w,"
        " row_number() OVER (ORDER BY 1 + (s + d) % 3, s, d) AS rk"
        " FROM eco)",
        "verts AS MATERIALIZED (SELECT DISTINCT v FROM"
        " (SELECT s AS v FROM eco UNION SELECT d AS v FROM eco))",
        "comp0 AS (SELECT v, v AS c FROM verts)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.extend(
            [
                f"lab{r} AS MATERIALIZED (SELECT e.rk, ca.c AS cs,"
                f" cb.c AS cd FROM edges0 e"
                f" JOIN comp{p} ca ON ca.v = e.s"
                f" JOIN comp{p} cb ON cb.v = e.d"
                f" WHERE ca.c <> cb.c)",
                f"cand{r} AS (SELECT cs AS c, rk FROM lab{r}"
                f" UNION ALL SELECT cd AS c, rk FROM lab{r})",
                f"pick{r} AS MATERIALIZED (SELECT DISTINCT min(rk) AS rk"
                f" FROM cand{r} GROUP BY c)",
                f"me{r} AS MATERIALIZED (SELECT DISTINCT l.cs AS x,"
                f" l.cd AS y"
                f" FROM lab{r} l JOIN pick{r} p ON p.rk = l.rk)",
                f"mesym{r} AS (SELECT x, y FROM me{r}"
                f" UNION SELECT y AS x, x AS y FROM me{r})",
                f"mreach{r}(x, rt) AS ("
                f" SELECT c, c FROM (SELECT DISTINCT c FROM comp{p}) b"
                f" UNION SELECT m.y, mreach{r}.rt"
                f" FROM mreach{r} JOIN mesym{r} m ON m.x = mreach{r}.x)",
                f"mlab{r} AS (SELECT x AS c, min(rt) AS nc"
                f" FROM mreach{r} GROUP BY x)",
                f"comp{r} AS MATERIALIZED (SELECT cp.v, ml.nc AS c"
                f" FROM comp{p} cp"
                f" JOIN mlab{r} ml ON ml.c = cp.c)",
            ]
        )
    all_picks = " UNION ALL ".join(
        f"SELECT rk FROM pick{r}" for r in range(1, rounds + 1)
    )
    parts.append(f"msf AS (SELECT DISTINCT rk FROM ({all_picks}) u)")
    return (
        "WITH RECURSIVE\n"
        + ",\n".join(parts)
        + "\nSELECT CAST(count(*) AS BIGINT) AS n_edges,"
        " ROUND(SUM(e.w), 2) AS total_weight,"
        " CAST((SELECT count(*) FROM verts) - count(*) AS BIGINT)"
        " AS n_trees"
        " FROM edges0 e JOIN msf m ON m.rk = e.rk"
    )


@query(
    "qg33_minimum_spanning_forest",
    oracle=_msf_oracle_sql(),  # unrolled Borůvka (hash tier since r07;
    # rows-tier before).  The (w, s, d)-order MSF is additionally
    # hash-certified against a pure-Python Kruskal on randomized
    # graphs in test_property.py::test_msf_property_family
    # (duplicate weights included)
    doc="qg33: minimum spanning forest of the weighted bounded "
    "co-occurrence graph (Graph.minimum_spanning_forest, Borůvka "
    "rounds — per round every component takes its (w, s, d)-minimal "
    "outgoing edge, O(log V) rounds, no global sort, no union-find). "
    "Summary row: forest edge count, total weight, tree count "
    "(vertices - forest edges). Same weights as qg15 (1+(s+d)%3).",
    tags=("graph", "mst", "fixpoint"),
)
def qg33_minimum_spanning_forest(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    g = Graph(e_co_small(li))
    e = g.edges.withColumn(
        "w", (1 + (F.col("s") + F.col("d")) % 3).cast("double")
    )
    msf = Graph(e).minimum_spanning_forest()
    n_v = g.vertex_ids().count()
    return msf.agg(
        F.count("*").cast("bigint").alias("n_edges"),
        F.round(F.sum("w"), 2).alias("total_weight"),
        (F.lit(n_v) - F.count("*")).cast("bigint").alias("n_trees"),
    )


def _ktruss_oracle_sql(k: int = 5, rounds: int = 8) -> str:
    """Unrolled support-peel DuckDB oracle for qg34 k-truss.

    Monotone (only removes edges), so unroll >= rounds-to-fixpoint IS
    the fixpoint (the qg11b argument). Measured peel depth for k=5 on
    the bounded co-occurrence graph: 1 round at sf0.001, 7 at sf0.01,
    2 at sf0.1 (graph empties) — 8 unrolled rounds cover all
    calibrated SFs with margin. Per round: canonical a<b<c triangle
    enumeration on the surviving edge set, each triangle charged to
    its three edges, edges with support < k-2 dropped. The final
    scored set is the fixpoint's per-edge support (the last round is
    a no-op confirm), aggregated to the support histogram.
    """
    parts = [f"e0 AS MATERIALIZED ({E_CO_SMALL_SQL})"]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.extend(
            [
                f"tri{r} AS MATERIALIZED ("
                f"SELECT e1.s AS a, e1.d AS b, e2.d AS c"
                f" FROM e{p} e1 JOIN e{p} e2 ON e1.d = e2.s"
                f" JOIN e{p} e3 ON e3.s = e1.s AND e3.d = e2.d)",
                f"sup{r} AS (SELECT s, d, count(*) AS c FROM ("
                f"SELECT a AS s, b AS d FROM tri{r}"
                f" UNION ALL SELECT b AS s, c AS d FROM tri{r}"
                f" UNION ALL SELECT a AS s, c AS d FROM tri{r}) u"
                f" GROUP BY s, d)",
                f"scored{r} AS MATERIALIZED ("
                f"SELECT e.s, e.d, coalesce(u.c, 0) AS support"
                f" FROM e{p} e LEFT JOIN sup{r} u"
                f" ON u.s = e.s AND u.d = e.d)",
                f"e{r} AS MATERIALIZED (SELECT s, d FROM scored{r}"
                f" WHERE support >= {k - 2})",
            ]
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT CAST(support AS BIGINT) AS support,"
        f" CAST(count(*) AS BIGINT) AS n_edges"
        f" FROM scored{rounds} WHERE support >= {k - 2}"
        f" GROUP BY support ORDER BY support"
    )


@query(
    "qg34_ktruss",
    oracle=_ktruss_oracle_sql(),
    doc="qg34: 5-truss of the bounded co-occurrence graph "
    "(Graph.k_truss) — the edge-cohesion analog of k-core (qg13): "
    "every surviving edge sits in >= 3 triangles WITHIN the surviving "
    "subgraph, the standard community-tightening peel. Output is the "
    "support histogram of the fixpoint edge set (bounded rows). Each "
    "round is the triangle_count wedge join on a checkpointed "
    "shrinking edge set + one groupBy; change-set-first convergence "
    "skips the final no-op round's writes. Oracle: 8 unrolled peel "
    "rounds (monotone removal => unroll past fixpoint is exact; "
    "measured depth 1/7/2 at sf0.001/0.01/0.1).",
    tags=("graph", "truss", "fixpoint"),
)
def qg34_ktruss(spark, sf_dir):
    _require_calibrated_sf(sf_dir, "qg34 (8 unrolled peel rounds)")
    li = tables(spark, sf_dir).lineitem
    truss = Graph(e_co_small(li)).k_truss(k=5)
    return (
        truss.groupBy("support")
        .agg(F.count("*").cast("bigint").alias("n_edges"))
        .select(F.col("support").cast("bigint").alias("support"), "n_edges")
        .orderBy("support")
    )


@query(
    "qg35_scc",
    oracle=f"""
WITH RECURSIVE e AS MATERIALIZED ({E_DIR_SMALL_SQL}),
verts AS MATERIALIZED (SELECT DISTINCT v FROM
  (SELECT s AS v FROM e UNION SELECT d AS v FROM e)),
reach(a, b) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.a, e.d FROM reach r JOIN e ON e.s = r.b
),
scc AS (SELECT r1.a AS v, min(r1.b) AS comp
        FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
        GROUP BY r1.a),
sizes AS (SELECT comp, count(*) AS sz FROM scc GROUP BY comp)
SELECT CAST(sz AS BIGINT) AS scc_size,
       CAST(count(*) AS BIGINT) AS n_sccs
FROM sizes GROUP BY sz ORDER BY scc_size
""",
    doc="qg35: strongly connected components of the bounded DIRECTED "
    "part→supplier digraph (Graph.strongly_connected_components — "
    "trim + forward/backward min-label peel; Tarjan's stack does not "
    "distribute). Output: SCC size histogram. Fixture keeps a real "
    "SCC mixture (sizes {{1,2}} / {{1,100}} / one giant 400 at "
    "sf0.001/0.01/0.1), so the gate discriminates cyclic from "
    "DAG-shaped regions. Oracle: recursive-CTE reachability closure, "
    "SCC(v) = min mutual-reach partner — tractable because the "
    "derived id space is bounded at 400.",
    tags=("graph", "scc", "fixpoint"),
)
def qg35_scc(spark, sf_dir):
    from sora_spark.graph.derive import e_dir_small

    li = tables(spark, sf_dir).lineitem
    scc = Graph(e_dir_small(li)).strongly_connected_components()
    sizes = scc.groupBy("component").agg(F.count("*").alias("sz"))
    return (
        sizes.groupBy("sz")
        .agg(F.count("*").cast("bigint").alias("n_sccs"))
        .select(F.col("sz").cast("bigint").alias("scc_size"), "n_sccs")
        .orderBy("scc_size")
    )


def _matching_oracle_sql(rounds: int = 8) -> str:
    """Unrolled hash-salted mutual-proposal matching oracle for qg36.

    Mirrors Graph.maximal_matching exactly: per round every vertex of
    the residual graph proposes to the neighbor minimizing
    (md5(round:s:d), neighbor); mutual proposals match and leave.
    Deterministic (md5 of identical strings on both engines) and
    monotone (edges only leave), so unroll >= rounds-to-empty IS the
    fixpoint — measured 6/5/4 rounds at sf0.001/0.01/0.1; 8 unrolled
    rounds cover all calibrated SFs (extra rounds are no-ops on an
    empty residual). MATERIALIZED on every multiply-referenced CTE.
    """
    parts = [f"e0 AS MATERIALIZED ({E_CO_SMALL_SQL})"]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.extend(
            [
                f"ph{r} AS (SELECT s, d,"
                f" md5(CAST({r} AS VARCHAR) || ':' ||"
                f" CAST(s AS VARCHAR) || ':' || CAST(d AS VARCHAR)) AS ph"
                f" FROM e{p})",
                f"sym{r} AS (SELECT s AS v, d AS u, ph FROM ph{r}"
                f" UNION ALL SELECT d AS v, s AS u, ph FROM ph{r})",
                f"cand{r} AS MATERIALIZED (SELECT v, u FROM ("
                f"SELECT v, u, row_number() OVER"
                f" (PARTITION BY v ORDER BY ph, u) AS rn FROM sym{r})"
                f" WHERE rn = 1)",
                f"newm{r} AS MATERIALIZED ("
                f"SELECT a.v AS x, a.u AS y FROM cand{r} a"
                f" JOIN cand{r} b ON a.u = b.v AND b.u = a.v"
                f" WHERE a.v < a.u)",
                f"mv{r} AS MATERIALIZED (SELECT x AS v FROM newm{r}"
                f" UNION SELECT y AS v FROM newm{r})",
                f"e{r} AS MATERIALIZED (SELECT e.s, e.d FROM e{p} e"
                f" WHERE e.s NOT IN (SELECT v FROM mv{r})"
                f" AND e.d NOT IN (SELECT v FROM mv{r}))",
            ]
        )
    allm = " UNION ALL ".join(
        f"SELECT x, y FROM newm{r}" for r in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT x, y FROM ({allm}) u ORDER BY x"
    )


@query(
    "qg36_maximal_matching",
    oracle=_matching_oracle_sql(),
    doc="qg36: deterministic maximal matching of the bounded "
    "co-occurrence graph (Graph.maximal_matching) — the "
    "graph-coarsening primitive (multilevel partitioning, "
    "pair-merging). Hash-salted mutual-proposal rounds: re-salting "
    "the proposal order per round breaks proposal chains, O(log) "
    "convergence (6/5/4 rounds measured vs 73 for static "
    "min-neighbor at sf0.001). Output = the full matched pair set — "
    "the gate certifies every pair, not a summary. Oracle: 8 "
    "unrolled rounds of the identical algorithm (md5 portable).",
    tags=("graph", "matching", "fixpoint"),
)
def qg36_maximal_matching(spark, sf_dir):
    _require_calibrated_sf(sf_dir, "qg36 (8 unrolled matching rounds)")
    li = tables(spark, sf_dir).lineitem
    return (
        Graph(e_co_small(li))
        .maximal_matching()
        .orderBy("x", "y")
    )


def _ppr_round_sql(prev: str, i: int, damping: float = 0.85) -> str:
    """One unrolled personalized-PageRank round, mirroring
    Graph.personalized_pagerank exactly: teleport AND dangling mass go
    to the seed set only — s(v)·((1−d) + d·D) + d·contrib."""
    return f"""
pdang{i} AS MATERIALIZED (
  SELECT coalesce(sum(r.rank), 0.0) AS m FROM {prev} r
  WHERE r.v NOT IN (SELECT s FROM od)),
pcontrib{i} AS MATERIALIZED (
  SELECT e.d AS v, sum(r.rank / od.od) AS c
  FROM eco e JOIN {prev} r ON r.v = e.s JOIN od ON od.s = e.s
  GROUP BY e.d),
ppr{i} AS MATERIALIZED (
  SELECT verts.v,
         (CASE WHEN verts.v IN (SELECT v FROM seeds)
               THEN 1.0 / 3.0 ELSE 0.0 END)
         * ({1.0 - damping} + {damping} * (SELECT m FROM pdang{i}))
         + {damping} * coalesce(c.c, 0.0) AS rank
  FROM verts LEFT JOIN pcontrib{i} c ON c.v = verts.v)"""


_PPR_ROUNDS = 10


@query(
    "qg37_personalized_pagerank",
    oracle=(
        f"WITH eco AS MATERIALIZED ({E_CO_SMALL_SQL}),\n"
        "verts AS MATERIALIZED (SELECT DISTINCT v FROM "
        "(SELECT s AS v FROM eco UNION SELECT d FROM eco)),\n"
        "od AS MATERIALIZED (SELECT s, CAST(count(*) AS DOUBLE) AS od "
        "FROM eco GROUP BY s),\n"
        "seeds AS MATERIALIZED (SELECT v FROM verts ORDER BY v LIMIT 3),\n"
        "ppr0 AS MATERIALIZED (SELECT v, CASE WHEN v IN "
        "(SELECT v FROM seeds) THEN 1.0 / 3.0 ELSE 0.0 END AS rank "
        "FROM verts),\n"
        + ",".join(_ppr_round_sql(f"ppr{i}", i + 1) for i in range(_PPR_ROUNDS))
        + f"""
SELECT v, round(rank, 8) AS rank FROM ppr{_PPR_ROUNDS}
WHERE rank > 0 ORDER BY v"""
    ),
    doc=f"qg37: PERSONALIZED PageRank — teleport mass concentrated on "
    "the 3 lowest vertex ids (uniform over the seed set; dangling "
    "mass teleports to the seeds too, the standard convention, so "
    f"total mass stays 1), {_PPR_ROUNDS} power rounds vs the same "
    "rounds unrolled as SQL CTEs. The similarity-from-a-source / "
    "recommendation primitive qg14's global ranks can't express — "
    "rank concentrates near the seeds and vertices unreachable from "
    "them stay EXACTLY 0.0 (filtered: the support set is itself part "
    "of the certificate). Same two-shuffle round dataflow as qg14; "
    "the seed indicator is a broadcast literal, round(8) sits ~6 "
    "orders above the 10-round float drift at PPR's mass scale.",
    tags=("graph", "pagerank", "personalized"),
)
def qg37_personalized_pagerank(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    g = Graph(e_co_small(li))
    seeds = [
        r.v for r in g.vertex_ids().orderBy("v").limit(3).collect()
    ]
    return (
        g.personalized_pagerank(seeds, n_iter=_PPR_ROUNDS, damping=0.85)
        .filter(F.col("rank") > 0)
        .select("v", F.round("rank", 8).alias("rank"))
        .orderBy("v")
    )


def _walk_step_sql(prev: str, i: int) -> str:
    """One unrolled hash-guided walk step: from the walk's current
    vertex, move to the out-neighbor with the smallest
    md5(walk_id-step-neighbor) — a deterministic stand-in for a
    uniform random choice that both engines compute identically."""
    return f"""
wk{i} AS (SELECT w.walk_id,
         arg_min(e.d, md5(CAST(w.walk_id AS VARCHAR) || '-{i}-'
                          || CAST(e.d AS VARCHAR))) AS cur
       FROM {prev} w JOIN eco e ON e.s = w.cur
       GROUP BY w.walk_id)"""


_WALK_STEPS = 4


@query(
    "qg38_random_walks",
    oracle=(
        f"WITH eco AS MATERIALIZED ({E_CO_SMALL_SQL}),\n"
        "verts AS (SELECT DISTINCT v FROM "
        "(SELECT s AS v FROM eco UNION SELECT d FROM eco) u),\n"
        "seeds AS (SELECT v FROM verts ORDER BY v LIMIT 3),\n"
        "wk0 AS (SELECT v AS walk_id, v AS cur FROM seeds),"
        + ",".join(_walk_step_sql(f"wk{i - 1}", i) for i in range(1, _WALK_STEPS + 1))
        + "\nSELECT walk_id, step, v FROM (\n"
        "  SELECT walk_id, 0 AS step, cur AS v FROM wk0\n"
        + "".join(
            f"  UNION ALL SELECT walk_id, {i}, cur FROM wk{i}\n"
            for i in range(1, _WALK_STEPS + 1)
        )
        + ") u ORDER BY walk_id, step"
    ),
    doc=f"qg38: hash-guided graph walks — {_WALK_STEPS} steps from the "
    "3 lowest vertex ids, each step moving to the out-neighbor with "
    "the minimal md5(walk_id-step-neighbor): DETERMINISTIC walk "
    "sampling, the node2vec/DeepWalk data-prep primitive made "
    "oracle-checkable (a seeded PRNG would not replay across "
    "engines; the hash argmin does, and varies per walk AND per "
    "step, so revisits don't cycle identically). Each step is one "
    "equi-join of the walk frontier (|seeds| rows) against the edge "
    "list + a min_by groupBy — frontier-sized, not graph-sized; "
    "10^6 concurrent walks at 100 TB is the same plan with a wider "
    "frontier. Dead-end walks simply stop contributing rows (inner "
    "join), matching the oracle's semantics exactly.",
    tags=("graph", "walk", "sampling"),
)
def qg38_random_walks(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    g = Graph(e_co_small(li))
    edges = g.edges.select("s", "d")
    seeds = g.vertex_ids().orderBy("v").limit(3)
    cur = seeds.select(
        F.col("v").alias("walk_id"), F.col("v").alias("cur")
    )
    frames = [
        cur.select(
            "walk_id", F.lit(0).alias("step"), F.col("cur").alias("v")
        )
    ]
    for i in range(1, _WALK_STEPS + 1):
        nxt = (
            cur.join(edges, cur.cur == edges.s)
            .groupBy("walk_id")
            .agg(
                F.min_by(
                    "d",
                    F.md5(
                        F.concat(
                            F.col("walk_id").cast("string"),
                            F.lit(f"-{i}-"),
                            F.col("d").cast("string"),
                        )
                    ),
                ).alias("cur")
            )
        )
        frames.append(
            nxt.select(
                "walk_id", F.lit(i).alias("step"), F.col("cur").alias("v")
            )
        )
        cur = nxt
    out = frames[0]
    for f_ in frames[1:]:
        out = out.union(f_)
    return out.orderBy("walk_id", "step")


def _sym_edges(eco):
    """Symmetrized (v, u) neighbor view of the canonical s<d edge list.
    Duplicate-free WITHOUT a distinct: eco is DISTINCT with s<d, so
    forward rows have v<u and reversed rows v>u — a .distinct() here
    would add a full 2|E| shuffle for no semantic effect (review
    finding). Shared by qg40/qg41/qg42."""
    return eco.select(F.col("s").alias("v"), F.col("d").alias("u")).union(
        eco.select(F.col("d").alias("v"), F.col("s").alias("u"))
    )


def _msg_pass_sql(prev: str, i: int) -> str:
    """One unrolled mean-aggregation message-passing round over the
    UNDIRECTED view of eco: h_{i}(v) = avg of h_{i-1} over in+out
    neighbors (vertices with no neighbors keep their feature — they
    don't occur in eco by construction)."""
    return f"""
h{i} AS MATERIALIZED (
  SELECT n.v, avg(p.h) AS h
  FROM (SELECT s AS v, d AS u FROM eco UNION ALL SELECT d, s FROM eco) n
  JOIN {prev} p ON p.v = n.u
  GROUP BY n.v)"""


_MSG_ROUNDS = 2


@query(
    "qg40_neighborhood_mean",
    oracle=(
        f"WITH eco AS MATERIALIZED ({E_CO_SMALL_SQL}),\n"
        "verts AS (SELECT DISTINCT v FROM "
        "(SELECT s AS v FROM eco UNION SELECT d FROM eco) u),\n"
        "h0 AS MATERIALIZED (SELECT v, CAST(v AS DOUBLE) AS h FROM verts),"
        + ",".join(_msg_pass_sql(f"h{i - 1}", i) for i in range(1, _MSG_ROUNDS + 1))
        + f"""
SELECT v, round(h, 6) AS h FROM h{_MSG_ROUNDS} ORDER BY v"""
    ),
    doc=f"qg40: GNN-style neighborhood MEAN aggregation "
    f"({_MSG_ROUNDS} message-passing rounds, GraphSAGE's mean "
    "aggregator with the vertex id as the seed feature): h_i(v) = "
    "avg over undirected neighbors of h_{i-1} — the feature-"
    "propagation primitive a graph-learning data pipeline runs "
    "before export, certified against the unrolled SQL rounds. "
    "Per round: one edge→feature equi-join + one destination avg "
    "(map-combinable) over the symmetrized edge list — identical "
    "cost shape to a PageRank round, and like qg14 the round count "
    "is fixed, so the 100 TB cost is rounds × (join + agg) on the "
    "edge partitioning. round(6) absorbs the avg summation-order "
    "drift.",
    tags=("graph", "gnn", "features"),
)
def qg40_neighborhood_mean(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    g = Graph(e_co_small(li))
    edges = g.edges.select("s", "d").localCheckpoint(eager=True)
    sym = _sym_edges(edges)
    h = g.vertex_ids().select(
        "v", F.col("v").cast("double").alias("h")
    ).localCheckpoint(eager=True)
    for _ in range(_MSG_ROUNDS):
        h = (
            sym.join(
                h.select(F.col("v").alias("u"), F.col("h").alias("hu")), "u"
            )
            .groupBy("v")
            .agg(F.avg("hu").alias("h"))
            .localCheckpoint(eager=True)
        )
    return h.select("v", F.round("h", 6).alias("h")).orderBy("v")


@query(
    "qg41_link_prediction_jaccard",
    oracle="""
WITH eco AS MATERIALIZED ({eco}),
nbr AS (SELECT s AS v, d AS u FROM eco UNION SELECT d, s FROM eco),
deg AS (SELECT v, count(*)::DOUBLE AS deg FROM nbr GROUP BY v),
common AS (
  SELECT e.s, e.d, count(*)::DOUBLE AS cn
  FROM eco e JOIN nbr a ON a.v = e.s JOIN nbr b ON b.v = e.d AND b.u = a.u
  WHERE a.u != e.s AND a.u != e.d
  GROUP BY e.s, e.d)
SELECT e.s, e.d,
       CAST(coalesce(c.cn, 0) AS BIGINT) AS common_nbrs,
       round(coalesce(c.cn, 0)
             / (ds.deg + dd.deg - coalesce(c.cn, 0)), 6) AS jaccard
FROM eco e
JOIN deg ds ON ds.v = e.s JOIN deg dd ON dd.v = e.d
LEFT JOIN common c ON c.s = e.s AND c.d = e.d
ORDER BY e.s, e.d
""".replace("{eco}", E_CO_SMALL_SQL),
    doc="qg41: per-edge neighborhood Jaccard — |N(s)∩N(d)| / "
    "|N(s)∪N(d)| for every existing edge (endpoints excluded from "
    "each other's neighborhoods): THE classic link-prediction / "
    "edge-strength feature, complementing qg28's per-VERTEX "
    "clustering coefficient. Common neighbors come from the "
    "triangle-enumeration join (edge × two adjacency hops, equi on "
    "the shared neighbor) — the qg3 shape, bounded by degree², "
    "never |V|²; union size by inclusion-exclusion from broadcast "
    "degrees, so no second intersection pass.",
    tags=("graph", "linkpred", "jaccard"),
)
def qg41_link_prediction_jaccard(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    g = Graph(e_co_small(li))
    eco = g.edges.select("s", "d").localCheckpoint(eager=True)
    nbr = _sym_edges(eco)
    deg = nbr.groupBy("v").agg(F.count("*").cast("double").alias("deg"))
    a = nbr.select(F.col("v").alias("s"), F.col("u").alias("nu"))
    b = nbr.select(F.col("v").alias("d"), F.col("u").alias("nu"))
    common = (
        eco.join(a, "s")
        .join(b, ["d", "nu"])
        .filter((F.col("nu") != F.col("s")) & (F.col("nu") != F.col("d")))
        .groupBy("s", "d")
        .agg(F.count("*").cast("double").alias("cn"))
    )
    ds = deg.select(F.col("v").alias("s"), F.col("deg").alias("deg_s"))
    dd = deg.select(F.col("v").alias("d"), F.col("deg").alias("deg_d"))
    out = (
        eco.join(ds, "s")
        .join(dd, "d")
        .join(common, ["s", "d"], "left")
        .select(
            "s",
            "d",
            F.coalesce("cn", F.lit(0.0)).cast("bigint").alias("common_nbrs"),
            F.round(
                F.coalesce("cn", F.lit(0.0))
                / (
                    F.col("deg_s") + F.col("deg_d")
                    - F.coalesce("cn", F.lit(0.0))
                ),
                6,
            ).alias("jaccard"),
        )
    )
    return out.orderBy("s", "d")


@query(
    "qg42_degree_assortativity",
    oracle="""
WITH eco AS MATERIALIZED ({eco}),
nbr AS (SELECT s AS v, d AS u FROM eco UNION ALL SELECT d, s FROM eco),
deg AS (SELECT v, count(*)::DOUBLE AS deg FROM nbr GROUP BY v),
pairs AS (
  SELECT ds.deg AS x, dd.deg AS y
  FROM nbr e JOIN deg ds ON ds.v = e.v JOIN deg dd ON dd.v = e.u)
SELECT CAST(count(*) AS BIGINT) AS n_endpoints,
       round(corr(x, y), 6) AS assortativity,
       round(avg(x), 4) AS mean_degree
FROM pairs
""".replace("{eco}", E_CO_SMALL_SQL),
    doc="qg42: degree assortativity — Pearson correlation of endpoint "
    "degrees over the symmetrized edge list (Newman's r): do "
    "high-degree vertices attach to each other (r>0, social-graph "
    "shape) or to leaves (r<0, hub-spoke)? The one-number structure "
    "diagnostic that tells you whether qsk1-style hot-key handling "
    "will concentrate on hub-hub edges. Degrees from one groupBy, "
    "broadcast-joined to both endpoints; corr is the qa18 "
    "mergeable-moments machine, so the whole statistic is two "
    "shuffles regardless of graph size. Symmetrized (both "
    "directions) so r is orientation-free.",
    tags=("graph", "assortativity", "profile"),
)
def qg42_degree_assortativity(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    g = Graph(e_co_small(li))
    eco = g.edges.select("s", "d").localCheckpoint(eager=True)
    nbr = _sym_edges(eco)
    deg = nbr.groupBy("v").agg(F.count("*").cast("double").alias("deg"))
    ds = deg.select(F.col("v").alias("v"), F.col("deg").alias("x"))
    dd = deg.select(F.col("v").alias("u"), F.col("deg").alias("y"))
    pairs = nbr.join(F.broadcast(ds), "v").join(F.broadcast(dd), "u")
    return pairs.agg(
        F.count("*").cast("bigint").alias("n_endpoints"),
        F.round(F.corr("x", "y"), 6).alias("assortativity"),
        F.round(F.avg("x"), 4).alias("mean_degree"),
    )


@query(
    "qg44_debruijn_graph",
    oracle=f"""
WITH e AS MATERIALIZED ({DEBRUIJN_SQL}),
nodes AS (SELECT DISTINCT v FROM
            (SELECT s AS v FROM e UNION ALL SELECT d FROM e)),
dout AS (SELECT s, count(*) AS c FROM e GROUP BY s),
din AS (SELECT d, count(*) AS c FROM e GROUP BY d),
ce AS (SELECT e.s, e.d FROM e
       JOIN dout ON dout.s = e.s AND dout.c = 1
       JOIN din ON din.d = e.d AND din.c = 1)
SELECT (SELECT count(*) FROM nodes) AS n_nodes,
       (SELECT count(*) FROM e) AS n_edges,
       (SELECT count(*) FROM ce) AS n_chain_edges,
       (SELECT count(*) FROM ce
        WHERE s NOT IN (SELECT d FROM ce)) AS n_unitig_starts,
       (SELECT max(c) FROM dout) AS max_out_degree
""",
    doc="qg44: de Bruijn graph construction over the corpus - the "
    "OTHER assembly paradigm next to qg19's overlap-layout-consensus: "
    "nodes are 12-char k-mers, edges connect consecutive windows, "
    "and the summary row certifies the graph shape (node/edge "
    "counts, non-branching chain-edge count, unitig starts, max "
    "out-degree). Construction is graph.overlap.de_bruijn_edges: "
    "map-side in-row window expansion + ONE distinct - no pairwise "
    "read join anywhere, which is precisely why de-Bruijn assemblers "
    "win at high coverage; degree tables and chain classification "
    "reuse Graph.chain_edges (type-agnostic over string vertices). "
    "At 100 TB every stage is a keyed shuffle on k-mer strings with "
    "map-side partials; k is the only memory knob.",
    tags=("graph", "assembly", "debruijn"),
)
def qg44_debruijn_graph(spark, sf_dir):
    from sora_spark.graph.overlap import de_bruijn_edges

    docs = tables(spark, sf_dir).documents
    # lazy cut: the first downstream action (chain/unitig compute)
    # materializes the edge blocks — one fewer full pass (r14)
    e = de_bruijn_edges(docs).localCheckpoint(eager=False)
    g = Graph(e)
    ce = g.chain_edges()
    nodes = (
        e.select(F.col("s").alias("v"))
        .unionAll(e.select(F.col("d").alias("v")))
        .distinct()
    )
    starts = ce.select("s").subtract(ce.select(F.col("d").alias("s")))
    max_out = e.groupBy("s").agg(F.count("*").alias("c")).agg(F.max("c"))
    return (
        nodes.agg(F.count("*").alias("n_nodes"))
        .crossJoin(e.agg(F.count("*").alias("n_edges")))
        .crossJoin(ce.agg(F.count("*").alias("n_chain_edges")))
        .crossJoin(starts.agg(F.count("*").alias("n_unitig_starts")))
        .crossJoin(max_out.toDF("max_out_degree"))
    )


@query(
    "qg45_debruijn_unitigs",
    oracle=f"""
WITH RECURSIVE e AS MATERIALIZED ({DEBRUIJN_SQL}),
dout AS (SELECT s, count(*) AS c FROM e GROUP BY s),
din AS (SELECT d, count(*) AS c FROM e GROUP BY d),
ce AS MATERIALIZED (SELECT e.s, e.d FROM e
      JOIN dout ON dout.s = e.s AND dout.c = 1
      JOIN din ON din.d = e.d AND din.c = 1),
walk(start, v, len) AS (
  SELECT s, d, 1 FROM ce WHERE s NOT IN (SELECT d FROM ce)
  UNION ALL
  SELECT w.start, c.d, w.len + 1 FROM walk w JOIN ce c ON c.s = w.v)
SELECT start, arg_max(v, len) AS "end",
       CAST(max(len) AS BIGINT) AS length
FROM walk GROUP BY start ORDER BY start LIMIT 5000
""",
    doc="qg45: de Bruijn unitig compaction - maximal non-branching "
    "chains of the qg44 graph compacted to (start k-mer, end k-mer, "
    "length) by pointer doubling (Graph.compact_chains, O(log L) "
    "rounds; measured longest chain 11-20 at the three sfs, so ~5 "
    "doubling rounds). The walk is start-anchored on both sides, so "
    "any chain CYCLE is excluded by definition (measured zero cyclic "
    "chain edges on this corpus - the guard matters for real genomes "
    "where repeats close cycles). Oracle: recursive-CTE chain walk "
    "over the same edge set. With qg44 this certifies the de-Bruijn "
    "assembly pipeline end-to-end, the paradigm twin of "
    "qg16-qg18's OLC chain.",
    tags=("graph", "assembly", "debruijn", "compaction"),
)
def qg45_debruijn_unitigs(spark, sf_dir):
    from sora_spark.graph.overlap import de_bruijn_edges

    docs = tables(spark, sf_dir).documents
    # lazy cut: the first downstream action (chain/unitig compute)
    # materializes the edge blocks — one fewer full pass (r14)
    e = de_bruijn_edges(docs).localCheckpoint(eager=False)
    ce = Graph(e).chain_edges()
    return (
        Graph(ce)
        .compact_chains(max_iter=12)
        .select(
            "start", "end", F.col("length").cast("bigint").alias("length")
        )
        .orderBy("start")
        .limit(5000)
    )


@query(
    "qg43_khop_reach",
    oracle=f"""
WITH eco AS MATERIALIZED ({E_CO_SMALL_SQL}),
sym AS MATERIALIZED (
  SELECT DISTINCT v, nbr FROM (
    SELECT s AS v, d AS nbr FROM eco
    UNION ALL SELECT d, s FROM eco)),
h1 AS (SELECT v, nbr FROM sym),
h2 AS MATERIALIZED (
  SELECT DISTINCT a.v, b.nbr AS x FROM h1 a JOIN sym b ON b.v = a.nbr
  WHERE b.nbr <> a.v
    AND NOT EXISTS (SELECT 1 FROM h1 p WHERE p.v = a.v AND p.nbr = b.nbr)),
h3 AS MATERIALIZED (
  SELECT DISTINCT a.v, b.nbr AS x FROM h2 a JOIN sym b ON b.v = a.x
  WHERE b.nbr <> a.v
    AND NOT EXISTS (SELECT 1 FROM h1 p WHERE p.v = a.v AND p.nbr = b.nbr)
    AND NOT EXISTS (SELECT 1 FROM h2 p WHERE p.v = a.v AND p.x = b.nbr)),
c1 AS (SELECT v, count(*) AS n1 FROM h1 GROUP BY v),
c2 AS (SELECT v, count(*) AS n2 FROM h2 GROUP BY v),
c3 AS (SELECT v, count(*) AS n3 FROM h3 GROUP BY v)
SELECT c1.v, CAST(n1 AS BIGINT) AS n1,
       CAST(COALESCE(n2, 0) AS BIGINT) AS n2,
       CAST(COALESCE(n3, 0) AS BIGINT) AS n3,
       CAST(6 * n1 + 3 * COALESCE(n2, 0) + 2 * COALESCE(n3, 0) AS BIGINT)
         AS harmonic_x6
FROM c1 LEFT JOIN c2 ON c2.v = c1.v LEFT JOIN c3 ON c3.v = c1.v
ORDER BY c1.v
""",
    doc="qg43: exact k-hop reach profile (k <= 3) on the bounded "
    "co-occurrence graph - per-vertex counts of vertices at distance "
    "exactly 1, 2, 3 plus 3-hop harmonic centrality scaled by 6 "
    "(6*n1 + 3*n2 + 2*n3: integer arithmetic, no float division "
    "anywhere - the harmonic ranking is order-identical). The "
    "bounded-radius form is how centrality is actually computed at "
    "100 TB (full harmonic needs all-pairs BFS): k frontier "
    "expansions, each one equi-join + distinct + anti-join against "
    "the visited set, all keyed shuffles on vertex id. qg9's BFS "
    "certifies single-source layering; this row certifies the "
    "ALL-vertices bounded variant.",
    tags=("graph", "centrality", "khop"),
)
def qg43_khop_reach(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    e = e_co_small(li)
    sym = (
        e.select(F.col("s").alias("v"), F.col("d").alias("nbr"))
        .unionAll(e.select(F.col("d").alias("v"), F.col("s").alias("nbr")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    h1 = sym
    h2 = (
        h1.join(
            sym.select(F.col("v").alias("nbr"), F.col("nbr").alias("x")),
            "nbr",
        )
        .filter(F.col("x") != F.col("v"))
        .select("v", "x")
        .distinct()
        .join(
            h1.select("v", F.col("nbr").alias("x")), ["v", "x"], "left_anti"
        )
        .localCheckpoint(eager=True)
    )
    h3 = (
        h2.join(
            sym.select(F.col("v").alias("x"), F.col("nbr").alias("y")), "x"
        )
        .filter(F.col("y") != F.col("v"))
        .select("v", F.col("y").alias("x"))
        .distinct()
        .join(
            h1.select("v", F.col("nbr").alias("x")), ["v", "x"], "left_anti"
        )
        .join(h2, ["v", "x"], "left_anti")
    )
    c1 = h1.groupBy("v").agg(F.count("*").alias("n1"))
    c2 = h2.groupBy("v").agg(F.count("*").alias("n2"))
    c3 = h3.groupBy("v").agg(F.count("*").alias("n3"))
    n1, n2, n3 = F.col("n1"), F.col("n2"), F.col("n3")
    return (
        c1.join(c2, "v", "left")
        .join(c3, "v", "left")
        .select(
            "v",
            n1.cast("bigint").alias("n1"),
            F.coalesce(n2, F.lit(0)).cast("bigint").alias("n2"),
            F.coalesce(n3, F.lit(0)).cast("bigint").alias("n3"),
            (
                6 * n1
                + 3 * F.coalesce(n2, F.lit(0))
                + 2 * F.coalesce(n3, F.lit(0))
            )
            .cast("bigint")
            .alias("harmonic_x6"),
        )
        .orderBy("v")
    )


# Shared minimizer CTEs: 12-mers of the stride-20 read set, md5-ranked
# minimizer per 5-kmer window, distinct minimizer positions per read.
_MINIMIZER_SQL = f"""
reads AS MATERIALIZED ({READS_SQL}),
mpos AS MATERIALIZED (
  SELECT read_id, i, substr(seq, CAST(i AS BIGINT), 12) AS km,
         md5(substr(seq, CAST(i AS BIGINT), 12)) AS h
  FROM reads, unnest(range(1, 30)) AS t(i)),
wsel AS (SELECT read_id, j, i, km,
                row_number() OVER (PARTITION BY read_id, j
                                   ORDER BY h, i) AS rn
         FROM mpos, unnest(range(1, 26)) AS w(j)
         WHERE i >= j AND i <= j + 4),
mins AS MATERIALIZED (
  SELECT DISTINCT read_id, i, km FROM wsel WHERE rn = 1)
"""


def _minimizer_sets(spark, sf_dir):
    """Spark side of _MINIMIZER_SQL: explode-first (each kmer hashed
    ONCE — an in-row nested-transform form would re-inline the md5
    per window reference under CollapseProject, the B12 finding),
    then one per-(read, window) min(struct(h, i, km)) with map-side
    partials. Returns the distinct minimizer set (read_id, i, km)."""
    docs = tables(spark, sf_dir).documents
    reads = derive_reads(docs)
    pos = reads.select(
        "read_id",
        F.explode(F.sequence(F.lit(1), F.lit(29))).alias("i"),
        "seq",
    ).select(
        "read_id",
        "i",
        F.col("seq").substr(F.col("i"), F.lit(12)).alias("km"),
    ).withColumn("h", F.md5("km"))
    win = pos.select(
        "read_id",
        "i",
        "km",
        "h",
        F.explode(
            F.sequence(
                F.greatest(F.lit(1), F.col("i") - 4),
                F.least(F.lit(25), F.col("i")),
            )
        ).alias("j"),
    )
    sel = (
        win.groupBy("read_id", "j")
        .agg(F.min(F.struct("h", "i", "km")).alias("m"))
        .select("read_id", F.col("m.i").alias("i"), F.col("m.km").alias("km"))
        .distinct()
    )
    return sel


@query(
    "qg46_minimizer_census",
    oracle=f"""
WITH {_MINIMIZER_SQL},
per_read AS (SELECT read_id, count(*) AS n_min FROM mins
             GROUP BY read_id)
SELECT CAST(n_min AS INT) AS n_minimizers,
       CAST(count(*) AS BIGINT) AS n_reads
FROM per_read GROUP BY n_min ORDER BY n_min
""",
    doc="qg46: MINIMIZER sampling census - the modern assembler's "
    "k-mer sparsification (minimap/miniasm shape): per 5-wide window "
    "of 12-mer positions keep only the md5-minimal k-mer, so each "
    "read's seed set shrinks from 29 k-mers to the distinct window "
    "minima (~2/(w+1) density) while any two reads sharing a >= 16bp "
    "exact overlap still share a minimizer (the windows covering the "
    "shared span select the same minimum). Output: histogram of "
    "minimizers per read. Shapes: map-side read derivation + "
    "position explode (each k-mer hashed ONCE - the in-row nested "
    "transform would re-inline the md5 per window under "
    "CollapseProject, the B12 lesson), one per-(read, window) "
    "min(struct) agg with map-side partials, one distinct - this is "
    "the sparsification pass a 100 TB read set runs BEFORE any "
    "overlap join, cutting that join's key volume ~3x (qg47 "
    "measures the recall side of the trade).",
    tags=("graph", "assembly", "minimizer"),
)
def qg46_minimizer_census(spark, sf_dir):
    mins = _minimizer_sets(spark, sf_dir)
    return (
        mins.groupBy("read_id")
        .agg(F.count("*").alias("n_min"))
        .groupBy("n_min")
        .agg(F.count("*").alias("n_reads"))
        .select(
            F.col("n_min").cast("int").alias("n_minimizers"),
            F.col("n_reads").cast("bigint").alias("n_reads"),
        )
        .orderBy("n_minimizers")
    )


@query(
    "qg47_minimizer_seed_recall",
    oracle=f"""
WITH {_MINIMIZER_SQL},
cand AS MATERIALIZED (
  SELECT DISTINCT a.read_id AS s, b.read_id AS d
  FROM mins a JOIN mins b ON a.km = b.km AND a.read_id < b.read_id),
tru AS MATERIALIZED (
  SELECT DISTINCT least(a.read_id, b.read_id) AS s,
                  greatest(a.read_id, b.read_id) AS d
  FROM reads a JOIN reads b
    ON substr(a.seq, 21, 20) = substr(b.seq, 1, 20)
   AND a.read_id <> b.read_id)
SELECT (SELECT count(*) FROM cand) AS n_candidates,
       (SELECT count(*) FROM tru) AS n_true_pairs,
       (SELECT count(*) FROM tru JOIN cand USING (s, d)) AS n_hits,
       round((SELECT count(*) FROM tru JOIN cand USING (s, d)) * 1.0
             / (SELECT count(*) FROM tru), 5) AS recall
""",
    doc="qg47: minimizer SEEDING recall - does the qg46 sparsified "
    "seed set still find the true overlaps? Candidate pairs = reads "
    "sharing any minimizer (equi-join on the ~3x-smaller minimizer "
    "table instead of qg19's full k-mer join); truth = the "
    "20-suffix-prefix overlap pairs. Reports candidate volume, true "
    "pair count, hits and recall - the exact volume-vs-recall trade "
    "an assembler tunes (w, k) by. The candidate join is the SAME "
    "bounded-key equi-join shape as qg19 (hot minimizers would get "
    "the same max_key_freq masking at scale), just over a "
    "deterministically sparser key set.",
    tags=("graph", "assembly", "minimizer", "recall"),
)
def qg47_minimizer_seed_recall(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    mins = _minimizer_sets(spark, sf_dir).localCheckpoint(eager=True)
    a = mins.select(F.col("km"), F.col("read_id").alias("s"))
    b = mins.select(F.col("km"), F.col("read_id").alias("d"))
    cand = (
        a.join(b, "km")
        .filter(F.col("s") < F.col("d"))
        .select("s", "d")
        .distinct()
        .localCheckpoint(eager=True)
    )
    reads = derive_reads(docs)
    ra = reads.select(
        F.col("read_id").alias("ra"),
        F.col("seq").substr(F.lit(21), F.lit(20)).alias("k"),
    )
    rb = reads.select(
        F.col("read_id").alias("rb"),
        F.col("seq").substr(F.lit(1), F.lit(20)).alias("k"),
    )
    tru = (
        ra.join(rb, "k")
        .filter(F.col("ra") != F.col("rb"))
        .select(
            F.least("ra", "rb").alias("s"),
            F.greatest("ra", "rb").alias("d"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    hits = tru.join(cand, ["s", "d"], "left_semi")
    return (
        cand.agg(F.count("*").alias("n_candidates"))
        .crossJoin(tru.agg(F.count("*").alias("n_true_pairs")))
        .crossJoin(hits.agg(F.count("*").alias("n_hits")))
        .withColumn(
            "recall",
            F.round(F.col("n_hits") / F.col("n_true_pairs"), 5),
        )
    )


@query(
    "qg48_consensus_polish",
    oracle=f"""
WITH reads AS MATERIALIZED ({READS10_SQL}),
base AS (SELECT read_id, read_id // 1000 AS doc_id,
                (read_id % 1000) * 10 AS off, p,
                substr(seq, CAST(p AS BIGINT), 1) AS ch
         FROM reads, unnest(range(1, 41)) AS t(p)),
mut AS (SELECT doc_id, off + p AS pos,
               CASE WHEN substr(md5(read_id || ':' || p), 1, 2) = '00'
                    THEN 'z' ELSE ch END AS ch
        FROM base),
votes AS (SELECT doc_id, pos, ch, count(*) AS c
          FROM mut GROUP BY doc_id, pos, ch),
cons AS (SELECT doc_id, pos, ch,
                row_number() OVER (PARTITION BY doc_id, pos
                                   ORDER BY c DESC, ch) AS rn
         FROM votes),
cstr AS (SELECT doc_id,
                string_agg(ch, '' ORDER BY pos) AS consensus,
                count(*) AS n_pos
         FROM cons WHERE rn = 1 GROUP BY doc_id),
diff AS (SELECT c.doc_id, c.n_pos, c.consensus,
                (SELECT count(*) FROM unnest(range(1, c.n_pos + 1))
                   AS t(q)
                 WHERE substr(c.consensus, CAST(q AS BIGINT), 1)
                       <> substr(d.text, CAST(q AS BIGINT), 1))
                  AS n_diff
         FROM cstr c JOIN documents d USING (doc_id))
SELECT doc_id, md5(consensus) AS consensus_md5,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_diff AS BIGINT) AS n_diff
FROM diff ORDER BY doc_id LIMIT 300
""",
    doc="qg48: CONSENSUS polishing - the C in overlap-layout-"
    "consensus, the assembly step after qg20's layout (SURVEY 0.3 "
    "step 6): stride-10 reads carry DETERMINISTIC synthetic "
    "sequencing errors (position p of read r flips to 'z' when "
    "md5(r:p) opens '00', ~0.4% error rate - reproducible in SQL, "
    "no RNG), the per-document pileup stacks ~4x coverage, and the "
    "consensus takes the majority base per position (count desc, "
    "char asc tiebreak - exact under any vote split, including the "
    "2-2 ties at the coverage edges where recovery is not "
    "guaranteed; n_diff counts residual divergence from the true "
    "sequence). Shapes: map-side read + per-base explode (fan-out = "
    "read length, the k-mer economics), one (doc, pos, char) vote "
    "count with map-side partials, one per-position argmax window, "
    "one per-doc ordered reassembly - every stage keyed by "
    "(doc, pos), so a 100 TB pileup partitions by genomic "
    "coordinate exactly like a real polisher.",
    tags=("graph", "assembly", "consensus", "pileup"),
)
def qg48_consensus_polish(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    reads = derive_reads(docs, read_len=40, stride=10)
    base = reads.select(
        "read_id",
        (F.col("read_id") / 1000).cast("bigint").alias("doc_id"),
        ((F.col("read_id") % 1000) * 10).alias("off"),
        F.explode(F.sequence(F.lit(1), F.lit(40))).alias("p"),
        "seq",
    ).select(
        "doc_id",
        (F.col("off") + F.col("p")).alias("pos"),
        F.when(
            F.substring(
                F.md5(F.concat_ws(":", "read_id", "p")), 1, 2
            )
            == "00",
            F.lit("z"),
        )
        .otherwise(F.col("seq").substr(F.col("p"), F.lit(1)))
        .alias("ch"),
    )
    votes = base.groupBy("doc_id", "pos", "ch").agg(
        F.count("*").alias("c")
    )
    rn = F.row_number().over(
        Window.partitionBy("doc_id", "pos").orderBy(
            F.desc("c"), F.col("ch")
        )
    )
    cons = votes.withColumn("rn", rn).filter(F.col("rn") == 1)
    cstr = cons.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ch"))),
                lambda e: e["ch"],
            ),
            "",
        ).alias("consensus"),
        F.count("*").alias("n_pos"),
    )
    joined = cstr.join(docs.select("doc_id", "text"), "doc_id")
    n_diff = F.size(
        F.filter(
            F.sequence(F.lit(1), F.col("n_pos").cast("int")),
            lambda q: F.col("consensus").substr(q, F.lit(1))
            != F.col("text").substr(q, F.lit(1)),
        )
    )
    return (
        joined.select(
            "doc_id",
            F.md5("consensus").alias("consensus_md5"),
            F.col("n_pos").cast("bigint").alias("n_pos"),
            n_diff.cast("bigint").alias("n_diff"),
        )
        .orderBy("doc_id")
        .limit(300)
    )
