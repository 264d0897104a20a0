"""Unit tests for graph algorithms on small synthetic graphs with
hand-computed expected results (the declared Q-G* queries cover the
fixture-derived graphs; these pin the algorithms themselves).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sora_spark.catalog import tables
from sora_spark.graph import FixpointError, Graph


def _g(spark, edges):
    return Graph(spark.createDataFrame(edges, "s long, d long"))


def test_connected_components(spark):
    # components: {1,2,3}, {4,5}, labels = min id
    g = _g(spark, [(1, 2), (2, 3), (4, 5)])
    comp = {r["v"]: r["component"] for r in g.connected_components().collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
    hist = {
        r["component_size"]: r["n_components"]
        for r in g.component_size_histogram().collect()
    }
    assert hist == {3: 1, 2: 1}


def test_transitive_reduction(spark):
    # a->b->c with shortcut a->c: shortcut is removed
    g = _g(spark, [(1, 2), (2, 3), (1, 3)])
    removed = {(r["s"], r["d"]) for r in g.transitive_edges().collect()}
    surviving = {
        (r["s"], r["d"]) for r in g.transitive_reduction_round().collect()
    }
    assert removed == {(1, 3)}
    assert surviving == {(1, 2), (2, 3)}


def _transitive_edges_two_path(g):
    """The 2-path form of Graph.transitive_edges: every 2-path
    e1.d == e2.s semi-joined against the edges, de-duplicated."""
    e1, e2 = g.edges.alias("e1"), g.edges.alias("e2")
    paths = e1.join(e2, F.col("e1.d") == F.col("e2.s")).select(
        F.col("e1.s").alias("s"), F.col("e2.d").alias("d")
    )
    return paths.join(g.edges, ["s", "d"], "left_semi").distinct()


def _assert_transitive_forms_agree(g, witness, bc=None):
    """`transitive_edges` and `transitive_reduction_round` of `g` equal
    the 2-path reference (removal set; edges anti-joined by it), row
    for row and column for column; `witness` names the form the hub
    gate must pick and `bc` the broadcast gate side."""
    assert g._witness_form() is witness
    if bc is not None:
        assert g._bc() is bc
    ref = _transitive_edges_two_path(g)
    assert _sorted(g.transitive_edges().collect()) == _sorted(ref.collect())
    got = g.transitive_reduction_round()
    assert got.columns == g.edges.columns
    want = g.edges.join(ref, ["s", "d"], "left_anti")
    assert _sorted(got.collect()) == _sorted(want.collect())


def _star(n):
    # hub 0 -> leaves 1..n, leaf 1 -> leaf 2 makes 0 -> 2 transitive
    return [(0, i) for i in range(1, n + 1)] + [(1, 2)]


@pytest.mark.parametrize(
    "edges, schema",
    [
        pytest.param([(1, 1), (1, 3), (2, 2), (2, 4), (4, 4), (5, 6)],
                     "s long, d long", id="self_loops"),
        pytest.param([(1, 2), (1, 2), (2, 3), (1, 3), (1, 3), (3, 4), (3, 4)],
                     "s long, d long", id="duplicates"),
        pytest.param([(1, None), (None, 3), (1, 3), (None, None), (4, 5),
                      (5, 6), (4, 6), (None, 6), (6, None), (4, 6)],
                     "s long, d long", id="null_ends"),
        pytest.param([("a", "b"), ("b", "c"), ("a", "c"), ("c", "c"),
                      ("c", "d")], "s string, d string", id="string_ids"),
        pytest.param([(1, 2, 0.5), (2, 3, 1.0), (1, 3, 2.0), (1, 3, 3.0),
                      (3, 4, None), (None, 4, 4.0)],
                     "s long, d long, w double", id="weighted"),
        pytest.param([], "s long, d long", id="empty"),
    ],
)
def test_witness_test_matches_two_path_form(spark, edges, schema):
    """The per-edge witness test removes exactly what the 2-path
    semi-join removes: self-loops (a→a→c makes a→c transitive, and a
    self-loop is its own witness), duplicate edges (the removal set is
    distinct, the round keeps every surviving copy), null ends (never
    transitive, never a witness), string ids and attribute columns,
    which the round keeps."""
    e = spark.createDataFrame(edges, schema)
    _assert_transitive_forms_agree(Graph(e), witness=True)


def test_hub_gate_keeps_the_two_path_form(spark, monkeypatch):
    """Above `HUB_CAP` out- or in-edges on one vertex the 2-path form
    runs, and at the cap the witness test; both match the
    reference. Cases: a star at the cap and at cap + 1, a vertex whose
    in- and out-degree both exceed the cap, and a star over the
    default cap."""
    star = _star(Graph.HUB_CAP + 1)
    _assert_transitive_forms_agree(
        Graph(spark.createDataFrame(star, "s long, d long")), witness=False
    )
    monkeypatch.setattr(Graph, "HUB_CAP", 4)
    for n, witness in ((4, True), (5, False)):
        e = spark.createDataFrame(_star(n), "s long, d long")
        _assert_transitive_forms_agree(Graph(e), witness)
        in_star = e.select(F.col("d").alias("s"), F.col("s").alias("d"))
        _assert_transitive_forms_agree(Graph(in_star), witness)
    # vertex 0: in from 1..5, out to 6..10; shortcuts 1->6, 2->7
    bow = ([(i, 0) for i in range(1, 6)] + [(0, i) for i in range(6, 11)]
           + [(1, 6), (2, 7), (6, 7)])
    _assert_transitive_forms_agree(
        Graph(spark.createDataFrame(bow, "s long, d long")), witness=False
    )


def test_witness_test_both_broadcast_sides(spark, sf_dir, monkeypatch):
    """On the co-occurrence graph the witness test gives the 2-path
    answer on both sides of `BROADCAST_EDGE_LIMIT`: its two
    neighbour-set joins broadcast under the limit and shuffle at it."""
    from sora_spark.graph.derive import e_co_small

    e = e_co_small(tables(spark, sf_dir).lineitem).localCheckpoint(eager=True)
    n = e.count()
    for limit in (n + 1, n):
        monkeypatch.setattr(Graph, "BROADCAST_EDGE_LIMIT", limit)
        _assert_transitive_forms_agree(Graph(e), True, bc=limit > n)


def test_tips(spark):
    # hub 1 with neighbors 2,3,4; vertex 5 hangs off 2 (degree-2 nbr -> not a tip)
    g = _g(spark, [(1, 2), (1, 3), (1, 4), (2, 5)])
    tips = {r["v"] for r in g.tips(hub_degree=3).collect()}
    # 2 has degree 2 (edges to 1 and 5) -> not a tip; 5's neighbor 2 is
    # no hub -> excluded; 3 and 4 are degree-1 off hub 1.
    assert tips == {3, 4}

def test_tips_single_agg_equivalence(spark):
    """The r14 single-aggregation tips() (degree + min(nbr) in one
    groupBy) must match the reference join formulation (degree-1 set
    joined back to the end list, then hub-filtered) on a graph with
    chains, hubs, isolated pairs and a cycle — min(nbr) over a
    degree-1 group IS the sole neighbor, so the sets are provably
    identical; this pins it."""
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 5),        # hub 1, nested tip 5
        (6, 7),                                 # isolated pair: no hub
        (8, 9), (9, 10), (10, 8),               # cycle: no degree-1
        (1, 11), (4, 12), (4, 13), (4, 14),     # 4 becomes a hub too
    ]
    g = _g(spark, edges)
    for hub_degree in (2, 3, 4):
        got = {r["v"] for r in g.tips(hub_degree=hub_degree).collect()}
        deg = g.degrees()
        ends = g.edges.select(
            F.col("s").alias("v"), F.col("d").alias("nbr")
        ).union(
            g.edges.select(F.col("d").alias("v"), F.col("s").alias("nbr"))
        )
        d1 = deg.filter(F.col("degree") == 1).select("v")
        tip_nbr = d1.join(ends, "v").select("v", "nbr")
        hub = deg.filter(F.col("degree") >= hub_degree).select(
            F.col("v").alias("nbr")
        )
        ref = {
            r["v"]
            for r in tip_nbr.join(hub, "nbr", "left_semi").collect()
        }
        assert got == ref, f"hub_degree={hub_degree}: {got} != {ref}"


def test_chain_edges_single_agg_equivalence(spark):
    """The r14 one-pass chain_edges() (exploded (v, out/in) counted in
    one groupBy) must match the reference formulation (separate
    out-degree-1 / in-degree-1 groupBys, two semi-joins) on a graph
    with chains, branches, merges, a cycle and a self-contained pair —
    a vertex absent from the s (resp. d) column has out-degree
    (resp. in-degree) 0 in both forms, so the edge sets are provably
    identical; this pins it."""
    edges = [
        (1, 2), (2, 3), (3, 4),                 # plain chain
        (4, 5), (4, 6),                         # branch at 4 (outd 2)
        (5, 7), (6, 7),                         # merge at 7 (ind 2)
        (8, 9),                                 # isolated pair
        (10, 11), (11, 12), (12, 10),           # cycle
        (13, 13),                               # self-loop
    ]
    g = _g(spark, edges)
    got = {(r["s"], r["d"]) for r in g.chain_edges().collect()}
    out1 = (
        g.edges.groupBy("s")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") == 1)
        .select("s")
    )
    in1 = (
        g.edges.groupBy("d")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") == 1)
        .select("d")
    )
    ref = {
        (r["s"], r["d"])
        for r in g.edges.join(out1, "s", "left_semi")
        .join(in1, "d", "left_semi")
        .collect()
    }
    assert got == ref


def test_bubbles(spark):
    # 1->2->4 and 1->3->4: bubble pair (1,4) with mids {2,3}
    g = _g(spark, [(1, 2), (1, 3), (2, 4), (3, 4)])
    pairs = {
        (r["u"], r["w"]): r["n_mids"] for r in g.bubble_pairs(2).collect()
    }
    assert pairs == {(1, 4): 2}


def test_bubble_removals_single_derivation_equivalence(spark):
    """The r14 single-derivation _bubble_removals (collect_set of mids
    aggregated straight to the doomed set) must match the reference
    formulation (aggregate tp to (u, w, keep), re-derive tp and probe
    it) on a graph with a 2-mid bubble, a 3-mid bubble, an overlapping
    bubble sharing a mid, a plain chain, a cycle and a self-loop —
    per (u, w) the doomed mids are the distinct-mid set minus its
    minimum in both forms, so the removal edge sets are provably
    identical; this pins it."""
    edges = [
        (1, 2), (1, 3), (2, 4), (3, 4),          # bubble (1,4), mids {2,3}
        (5, 6), (5, 7), (5, 8),                  # bubble (5,9), mids {6,7,8}
        (6, 9), (7, 9), (8, 9),
        (5, 10), (10, 9),                        # 4th mid for (5,9)
        (3, 11), (2, 11),                        # bubble (1,11) shares mids
        (12, 13), (13, 14),                      # chain: no bubble
        (15, 16), (16, 17), (17, 15),            # cycle
        (18, 18),                                # self-loop
    ]
    g = _g(spark, edges)
    for min_mids in (2, 3):
        got = {
            (r["s"], r["d"])
            for r in g._bubble_removals(min_mids).collect()
        }
        e1, e2 = g.edges.alias("e1"), g.edges.alias("e2")
        tp = e1.join(e2, F.col("e1.d") == F.col("e2.s")).select(
            F.col("e1.s").alias("u"),
            F.col("e1.d").alias("x"),
            F.col("e2.d").alias("w"),
        )
        bub = (
            tp.groupBy("u", "w")
            .agg(
                F.countDistinct("x").alias("n_mids"),
                F.min("x").alias("keep"),
            )
            .filter(F.col("n_mids") >= min_mids)
            .select("u", "w", "keep")
        )
        doomed = (
            tp.join(bub, ["u", "w"])
            .filter(F.col("x") != F.col("keep"))
            .select("u", "x", "w")
        )
        ref = {
            (r["s"], r["d"])
            for r in doomed.select(
                F.col("u").alias("s"), F.col("x").alias("d")
            )
            .union(
                doomed.select(F.col("x").alias("s"), F.col("w").alias("d"))
            )
            .distinct()
            .collect()
        }
        assert got == ref, f"min_mids={min_mids}: {got} != {ref}"


def test_compact_chains(spark):
    # chains: 1->2->3->4 (len 3), 5->6 (len 1), 7->8->9 (len 2)
    g = _g(spark, [(1, 2), (2, 3), (3, 4), (5, 6), (7, 8), (8, 9)])
    chains = {
        (r["start"], r["end"], r["length"])
        for r in g.compact_chains().collect()
    }
    assert chains == {(1, 4, 3), (5, 6, 1), (7, 9, 2)}


def test_compact_chains_cap_convergence(spark):
    """The r14 cap-based convergence test (stop when max(dist) < 2^k,
    i.e. no row hit the doubling cap) must be exact on the cases where
    it differs most from the old sum-compare: a chain of length
    EXACTLY a power of two (dist == cap at the converged round, so one
    more round must run before the break), a cycle (dist pinned at
    the cap forever — rows drop at the starts semi-join, loop bounded
    by max_iter), and length-1 chains (break after round 1)."""
    edges = (
        [(i, i + 1) for i in range(1, 5)]        # 1->..->5, len 4 = 2^2
        + [(10, 11), (11, 12), (12, 13)]         # len 3
        + [(20, 21)]                             # len 1
        + [(30, 31), (31, 32), (32, 30)]         # cycle: no output row
    )
    g = _g(spark, edges)
    st: dict = {}
    chains = {
        (r["start"], r["end"], r["length"])
        for r in g.compact_chains(max_iter=8, stats=st).collect()
    }
    assert chains == {(1, 5, 4), (10, 13, 3), (20, 21, 1)}
    # the cycle pins max(dist) at the cap every round, so the loop is
    # bounded by max_iter — the old always-growing-total behavior
    assert st["rounds"] == 8, st
    # with_paths rides the same loop
    paths = {
        r["path"]
        for r in g.compact_chains(max_iter=8, with_paths=True).collect()
    }
    assert paths == {"1-2-3-4-5", "10-11-12-13", "20-21"}

    # acyclic, longest chain EXACTLY 2^2: dist == cap at the converged
    # round, so round 3 must still run (max 4 < 8 breaks) — the cap
    # test may never break early on a power-of-two boundary
    st4: dict = {}
    g4 = _g(spark, [(i, i + 1) for i in range(1, 5)])
    got4 = {
        (r["start"], r["end"], r["length"])
        for r in g4.compact_chains(max_iter=8, stats=st4).collect()
    }
    assert got4 == {(1, 5, 4)} and st4["rounds"] == 3, st4

    # acyclic, longest chain 3 (non-power): round 2 sees max 3 < 4 and
    # breaks — one round FEWER than the old sum-compare's confirm round
    st3: dict = {}
    g3 = _g(spark, [(10, 11), (11, 12), (12, 13), (20, 21)])
    got3 = {
        (r["start"], r["end"], r["length"])
        for r in g3.compact_chains(max_iter=8, stats=st3).collect()
    }
    assert got3 == {(10, 13, 3), (20, 21, 1)} and st3["rounds"] == 2, st3


def test_bfs_hops(spark):
    # path 1-2-3-4 plus offshoot 2-5; from source 1
    g = _g(spark, [(1, 2), (2, 3), (3, 4), (2, 5)])
    src = spark.createDataFrame([(1,)], "v long")
    hops = {r["v"]: r["hop"] for r in g.bfs_hops(src).collect()}
    assert hops == {1: 0, 2: 1, 3: 2, 5: 2, 4: 3}


def test_reduce_pipeline(spark):
    # a->b->c with transitive shortcut a->c; hub 1 with tips 6,7,8 and
    # a 2-path through 6 (so 6 is not a tip; 7,8 are)
    g = _g(spark, [(1, 2), (2, 3), (1, 3), (1, 6), (1, 7), (1, 8), (6, 9)])
    reduced = {(r["s"], r["d"]) for r in g.reduce_pipeline().collect()}
    # (1,3) removed as transitive; 7,8 trimmed as tips off hub 1;
    # fixpoint then keeps the 1-2-3 path and the 1-6-9 chain
    assert (1, 3) not in reduced
    assert not any(7 in e or 8 in e for e in reduced)
    assert (1, 2) in reduced and (2, 3) in reduced


@pytest.mark.parametrize("loop", ["reduce_pipeline", "assembly_pipeline"])
def test_reduction_loops_keep_input_columns(spark, loop):
    """Both loops return the input's columns whatever they remove: a
    directed 3-cycle (no transitive edge, no tip) and a hub with tips
    (tips trimmed by `_drop_vertices`) both keep `w`."""
    schema = "s long, d long, w double"
    cycle = [(1, 2, 0.1), (2, 3, 0.2), (3, 1, 0.3)]
    hub = [(0, 1, 1.0), (0, 2, 2.0), (0, 3, 3.0), (0, 4, 4.0), (4, 5, 5.0)]
    for edges, want in ((cycle, cycle), (hub, [(0, 4, 4.0), (4, 5, 5.0)])):
        stats = {}
        out = getattr(Graph(spark.createDataFrame(edges, schema)), loop)(
            stats=stats
        )
        assert out.columns == ["s", "d", "w"]
        assert _sorted(out.collect()) == want
        assert stats["converged"]


def test_degrees_and_two_hop(spark):
    g = _g(spark, [(1, 2), (2, 3)])
    hist = {
        r["degree"]: r["n_vertices"] for r in g.degree_histogram().collect()
    }
    assert hist == {1: 2, 2: 1}
    assert g.two_hop_count().collect()[0]["two_hop_count"] == 1
    assert g.triangle_count().collect()[0]["triangle_count"] == 0


def test_twophase_cc_on_long_chain(spark):
    """A 64-vertex chain: min-label needs ~63 rounds (diameter), the
    two-phase contraction must finish in O(log n) — both agree on the
    single component."""
    from sora_spark.graph import Graph

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)] + [(100, 101), (102, 102)],
        "s BIGINT, d BIGINT",
    )
    g = Graph(edges)
    stats = {}
    comp = g.connected_components_twophase(stats=stats)
    rows = {r["v"]: r["component"] for r in comp.collect()}
    assert all(rows[v] == 0 for v in range(64))
    assert rows[100] == rows[101] == 100
    assert rows[102] == 102  # self-loop-only vertex is its own component
    assert stats["rounds"] <= 8, f"not logarithmic: {stats['rounds']} rounds"


_CHAIN = [(i, i + 1, float(i)) for i in range(9)]


@pytest.mark.parametrize(
    "loop, edges, run",
    [
        pytest.param(
            "connected_components", _CHAIN,
            lambda g, sp: g.connected_components(max_iter=1),
            id="connected_components",
        ),
        pytest.param(
            "connected_components_twophase", _CHAIN,
            lambda g, sp: g.connected_components_twophase(max_iter=1),
            id="connected_components_twophase",
        ),
        pytest.param(
            "k_core", _CHAIN, lambda g, sp: g.k_core(k=2, max_iter=1),
            id="k_core",
        ),
        pytest.param(
            "maximal_matching", _CHAIN,
            lambda g, sp: g.maximal_matching(max_iter=1),
            id="maximal_matching",
        ),
        # a 10-cycle: nothing trims, and forward min-label needs 10
        # rounds against the inner budget of 4 * max_iter
        pytest.param(
            "strongly_connected_components", _CHAIN + [(9, 0, 9.0)],
            lambda g, sp: g.strongly_connected_components(max_iter=1),
            id="strongly_connected_components",
        ),
        pytest.param(
            "k_truss", _CHAIN, lambda g, sp: g.k_truss(k=3, max_iter=1),
            id="k_truss",
        ),
        pytest.param(
            "shortest_paths", _CHAIN,
            lambda g, sp: g.shortest_paths(
                sp.createDataFrame([(0,)], "v long"), max_iter=1
            ),
            id="shortest_paths",
        ),
        pytest.param(
            "topological_levels", _CHAIN,
            lambda g, sp: g.topological_levels(max_iter=1),
            id="topological_levels",
        ),
        pytest.param(
            "minimum_spanning_forest", _CHAIN,
            lambda g, sp: g.minimum_spanning_forest(max_iter=1),
            id="minimum_spanning_forest",
        ),
    ],
)
def test_fixpoint_raises_on_exhausted_iterations(
    spark, monkeypatch, loop, edges, run
):
    """Every loop whose answer is a fixpoint reports exhaustion the same
    way — FixpointError naming the loop and its budget — on a graph
    needing >= 2 rounds, never silently-wrong partial state.
    connected_components' driver regime (the default bound) runs no
    rounds and answers; a bound of 0 forces its min-label loop."""
    g = Graph(spark.createDataFrame(edges, "s long, d long, w double"))
    if loop == "connected_components":
        assert {r["component"] for r in run(g, spark).collect()} == {0}
        monkeypatch.setattr(Graph, "DRIVER_CC_EDGE_LIMIT", 0)
    with pytest.raises(
        FixpointError, match=rf"{loop}: no fixpoint within max_iter=\d+"
    ):
        run(g, spark)


def test_minlabel_cc_raises_instead_of_partial_labels(spark, monkeypatch):
    """An 80-vertex chain has diameter 79. Under the default edge bound
    connected_components answers with the driver union-find; with the
    bound at 0, min-label CC's default 50 rounds cannot reach the
    fixpoint, so it raises instead of returning partial labels, and
    with 100 rounds every label is 0. MSF's contraction CC sizes its
    own budget: on an 80-vertex path with increasing weights, round 1
    chooses all 79 edges (a merge graph of diameter 79), and the
    forest is still the whole path in both regimes."""
    path = [(i, i + 1, float(i)) for i in range(79)]
    g = Graph(spark.createDataFrame(path, "s long, d long, w double"))
    chain = {v: 0 for v in range(80)}
    stats = {}
    labels = {
        r["v"]: r["component"]
        for r in g.connected_components(stats=stats).collect()
    }
    assert labels == chain and stats == {"regime": "driver", "rounds": 0}
    msf = sorted(map(tuple, g.minimum_spanning_forest().collect()))
    assert msf == path
    monkeypatch.setattr(Graph, "DRIVER_CC_EDGE_LIMIT", 0)
    with pytest.raises(FixpointError, match="connected_components"):
        g.connected_components()
    labels = {
        r["v"]: r["component"]
        for r in g.connected_components(max_iter=100).collect()
    }
    assert labels == chain
    msf = sorted(map(tuple, g.minimum_spanning_forest().collect()))
    assert msf == path


def _sorted(rows):
    return sorted(
        map(tuple, rows), key=lambda r: tuple((x is None, x) for x in r)
    )


def _cc_rows(g, bound, monkeypatch, stats=None):
    monkeypatch.setattr(Graph, "DRIVER_CC_EDGE_LIMIT", bound)
    return _sorted(g.connected_components(stats=stats).collect())


@pytest.mark.parametrize(
    "schema, edges, want, id_type",
    [
        pytest.param(
            "s long, d long",
            [(1, 2), (2, None), (None, 3), (4, 5)],
            [(1, 1), (2, 1), (3, 3), (4, 4), (5, 4), (None, None)],
            "bigint",
            id="null_endpoints_long",
        ),
        pytest.param(
            "s string, d string",
            [("b", "c"), ("c", None), (None, "e"), ("x", "a")],
            [("a", "a"), ("b", "b"), ("c", "b"), ("e", "e"), ("x", "a"),
             (None, None)],
            "string",
            id="null_endpoints_string",
        ),
        pytest.param(
            "s string, d string",
            [("urlB", "urlA"), ("urlC", "urlB"), ("q", "q"), ("m", "n"),
             ("Z", "a")],
            [("Z", "Z"), ("a", "Z"), ("m", "m"), ("n", "m"), ("q", "q"),
             ("urlA", "urlA"), ("urlB", "urlA"), ("urlC", "urlA")],
            "string",
            id="string_ids_self_loop_isolated_edges",
        ),
        pytest.param(
            "s int, d int",
            [(7, 7), (3, 9), (9, 3), (5, 6), (-2, 6)],
            [(-2, -2), (3, 3), (5, -2), (6, -2), (7, 7), (9, 3)],
            "int",
            id="int_ids_self_loop_reverse_duplicate",
        ),
        pytest.param(
            "s int, d long", [(1, 2), (2, 3), (5, 5)],
            [(1, 1), (2, 1), (3, 1), (5, 5)], "bigint",
            id="mixed_id_types_widen",
        ),
        pytest.param(
            "s long, d long", [], [], "bigint", id="empty_edge_set"
        ),
    ],
)
def test_union_find_matches_minlabel(
    spark, monkeypatch, schema, edges, want, id_type
):
    """The driver union-find returns min-label's exact rows and schema:
    a non-null endpoint of a null-bearing edge is a vertex of its own,
    one (NULL, NULL) row stands for the null endpoints, ids of any
    orderable type label by their own minimum, s and d widen to one id
    type, and no id column turns into floats on the way through the
    driver."""
    g = Graph(spark.createDataFrame(edges, schema))
    for bound in (Graph.DRIVER_CC_EDGE_LIMIT, 0):
        monkeypatch.setattr(Graph, "DRIVER_CC_EDGE_LIMIT", bound)
        cc = g.connected_components()
        assert cc.schema.simpleString() == (
            f"struct<v:{id_type},component:{id_type}>"
        ), f"bound {bound}"
        assert _sorted(cc.collect()) == want, f"bound {bound}"
    assert _sorted(g.connected_components_twophase().collect()) == want


def test_cc_regime_bound(spark, monkeypatch):
    """The regime gate at its bound: n edges resolve on the driver with
    the bound at n and by min-label with the bound at n - 1 (n is then
    bound+1), and `stats` names the regime that fired."""
    edges = [(1, 2), (2, 3), (4, 5), (6, 6)]
    g = Graph(spark.createDataFrame(edges, "s long, d long"))
    at, over = {}, {}
    a = _cc_rows(g, len(edges), monkeypatch, at)
    b = _cc_rows(g, len(edges) - 1, monkeypatch, over)
    assert at == {"regime": "driver", "rounds": 0}
    assert over["regime"] == "distributed" and over["rounds"] >= 1
    assert a == b == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)]


def test_union_find_shuffled_ids_match_reference(spark):
    """A path over shuffled ids and a sparse random graph take the
    driver union-find through several hook-and-shortcut rounds; every
    vertex still labels by its component's min id."""
    import random

    rnd = random.Random(7)
    ids = list(range(3000))
    rnd.shuffle(ids)
    edges = list(zip(ids[:1000], ids[1:1001]))
    edges += [(rnd.randrange(1000, 3000), rnd.randrange(1000, 3000))
              for _ in range(1500)]
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    stats = {}
    g = Graph(spark.createDataFrame(edges, "s long, d long"))
    got = _sorted(g.connected_components(stats=stats).collect())
    assert stats == {"regime": "driver", "rounds": 0}
    assert got == sorted((v, find(v)) for v in parent)


@pytest.mark.parametrize(
    "name",
    [
        "qg4_connected_components",
        "qer1_entity_resolution",
        "qg33_minimum_spanning_forest",
        "qd5_neardup_clusters",
    ],
)
def test_cc_regimes_agree_on_declared_queries(spark, sf_dir, monkeypatch, name):
    """The declared queries built on connected_components give the same
    rows whichever regime resolves their components."""
    from sora_spark.queries import REGISTRY

    fn = REGISTRY[name].spark_fn
    driver = sorted(map(tuple, fn(spark, sf_dir).collect()))
    monkeypatch.setattr(Graph, "DRIVER_CC_EDGE_LIMIT", 0)
    distributed = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert driver == distributed and driver


def test_scc_string_ids(spark):
    """SCC's propagations share CC's min-label kernel, so non-integral
    ids converge by the exact comparison join instead of a decimal
    label mass (a string id cannot be cast to decimal)."""
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "x"),
             ("x", "y"), ("y", "z"), ("z", "x")]
    g = Graph(spark.createDataFrame(edges, "s string, d string"))
    comp = {
        r["v"]: r["component"]
        for r in g.strongly_connected_components().collect()
    }
    assert comp == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "z": "x"
    }


def test_twophase_matches_minlabel(spark, sf_dir, monkeypatch):
    from sora_spark.graph.derive import e_co_small

    g = Graph(e_co_small(tables(spark, sf_dir).lineitem))
    b = sorted(map(tuple, g.connected_components_twophase().collect()))
    for bound in (Graph.DRIVER_CC_EDGE_LIMIT, 0):
        assert _cc_rows(g, bound, monkeypatch) == b, f"bound {bound}"


def test_pagerank_matches_numpy_power_iteration(spark):
    """PageRank on a fixed 5-vertex digraph vs a numpy reference doing
    the identical damped power iteration with dangling redistribution."""
    import numpy as np

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]  # 4 is dangling+isolated? no: keep 4 via edge
    edges.append((2, 4))
    e = spark.createDataFrame(edges, "s LONG, d LONG")
    g = Graph(e)
    got = {r["v"]: r["rank"] for r in g.pagerank(n_iter=15).collect()}

    n = 5
    out = {0: [1, 2], 1: [2], 2: [0, 4], 3: [2], 4: []}
    r = np.ones(n)
    d = 0.85
    for _ in range(15):
        nxt = np.zeros(n)
        dangling = sum(r[v] for v in range(n) if not out[v])
        for v in range(n):
            for u in out[v]:
                nxt[u] += d * r[v] / len(out[v])
        nxt += (1 - d) + d * dangling / n
        r = nxt
    for v in range(n):
        assert abs(got[v] - r[v]) < 1e-9, (v, got[v], r[v])
    assert abs(sum(got.values()) - n) < 1e-6


def test_shortest_paths_weighted(spark):
    """Bellman-Ford relaxation on a weighted digraph with a shorter
    indirect route — catches greedy/hop-limited mistakes."""
    e = spark.createDataFrame(
        [(0, 1, 10.0), (0, 2, 1.0), (2, 1, 2.0), (1, 3, 1.0), (2, 3, 100.0)],
        "s LONG, d LONG, w DOUBLE",
    )
    src = spark.createDataFrame([(0,)], "v LONG")
    got = {r["v"]: r["dist"] for r in
           Graph(e).shortest_paths(src, weight_col="w").collect()}
    assert got == {0: 0.0, 1: 3.0, 2: 1.0, 3: 4.0}


def test_shortest_paths_unweighted_equals_bfs(spark, sf_dir):
    """Unit-weight shortest paths must equal bfs_hops on the same
    (directed) edge set."""
    from sora_spark.queries.graph_q import e_co_small
    li = tables(spark, sf_dir).lineitem
    e = e_co_small(li)
    g = Graph(e)
    srcs = g.vertex_ids().orderBy("v").limit(3)
    # bfs_hops is undirected; symmetrize for the comparison
    sym = Graph(e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d"))))
    got = {r["v"]: r["dist"] for r in
           sym.shortest_paths(srcs, max_iter=15).collect()}
    want = {r["v"]: float(r["hop"]) for r in
            g.bfs_hops(srcs, max_hops=15).collect()}
    assert got == want


def test_k_core(spark):
    """2-core of a graph with a pendant chain: the triangle survives,
    the chain peels away (including cascades)."""
    # triangle 0-1-2 plus chain 2-3-4
    g = _g(spark, [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)])
    core = sorted(r["v"] for r in g.k_core(k=2).collect())
    assert core == [0, 1, 2]
    # 3-core empty (triangle is only 2-degree each)
    assert g.k_core(k=3).count() == 0


def _k_core_semijoin(edges, k, max_iter=50):
    """The semi-join k-core loop `Graph.k_core` replaced: keep the
    edges whose two ends both have degree >= k, eagerly cut, until no
    vertex is under k."""
    e = Graph._sym_edges(edges).distinct().localCheckpoint(eager=True)
    for _ in range(max_iter):
        deg = e.groupBy("s").agg(F.count("*").alias("_deg"))
        if deg.filter(F.col("_deg") < k).isEmpty():
            return e.select(F.col("s").alias("v")).distinct()
        keep = deg.filter(F.col("_deg") >= k).select("s")
        e = (
            e.join(keep, "s", "left_semi")
            .join(keep.withColumnRenamed("s", "d"), "d", "left_semi")
            .select("s", "d")
            .localCheckpoint(eager=True)
        )
    raise AssertionError("reference k-core did not converge")


_NULL_END = [(1, 2), (2, 3), (1, 3), (3, None)]


@pytest.mark.parametrize(
    "edges, ks",
    [
        pytest.param(
            [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)], (1, 2, 3),
            id="triangle_pendant_chain",
        ),
        pytest.param([(i, i + 1) for i in range(79)], (1, 2), id="chain80"),
        pytest.param("e_co_small", (2, 3, 20), id="e_co_small"),
        pytest.param(_NULL_END, (1, 2), id="null_end"),
    ],
)
def test_k_core_matches_semijoin_reference(spark, sf_dir, edges, ks):
    """The `_peel` k-core (anti-join of the sub-k vertices, lazy cuts)
    returns the old semi-join loop's vertices. The one difference is
    an edge with a null end: the reference keeps its NULL vertex when
    no peel fires (k=1 here); `k_core` drops such edges first."""
    if edges == "e_co_small":
        from sora_spark.graph.derive import e_co_small

        e = e_co_small(tables(spark, sf_dir).lineitem)
    else:
        e = spark.createDataFrame(edges, "s long, d long")
    for k in ks:
        ref = _sorted(_k_core_semijoin(e, k).collect())
        if edges is _NULL_END and k == 1:
            assert ref == [(1,), (2,), (3,), (None,)]
        want = [r for r in ref if r != (None,)]
        assert _sorted(Graph(e).k_core(k=k).collect()) == want, k


@pytest.mark.parametrize("loop", ["reduce_pipeline", "assembly_pipeline"])
def test_reduction_loops_report_converged(spark, sf_dir, loop):
    """`stats["converged"]`: on the full e_co graph the reduce stage
    needs 2 rounds (8899 → 404 edges, then an empty tip set), so one
    round stops at the bound unconverged and the default reaches the
    fixpoint. Assembly converges only when both of its stages do."""
    import os

    from sora_spark.graph import e_co

    # the sf0.001 tier beside the configured one: sf0.01 and up reach
    # the reduce fixpoint in one round
    sf = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    e = e_co(tables(spark, sf).lineitem).localCheckpoint(eager=True)
    for max_iter, converged, counts in (
        (1, False, [8899, 404]), (5, True, [8899, 404, 404]),
    ):
        stats = {}
        getattr(Graph(e), loop)(max_iter=max_iter, stats=stats)
        assert stats["converged"] is converged, (max_iter, stats)
        assert stats["edge_counts"][: len(counts)] == counts, stats


def test_bubble_pop_shuffle_path_matches_broadcast(spark, sf_dir, monkeypatch):
    """pop_bubbles_round above the broadcast gate (shuffled semi/anti
    joins) must remove exactly the same edge set as the broadcast path
    — the shape a deployment runs when the edge set exceeds
    BROADCAST_EDGE_LIMIT."""
    from sora_spark.graph.derive import e_co_small

    li = tables(spark, sf_dir).lineitem
    e = e_co_small(li).localCheckpoint(eager=True)
    n = e.count()
    got = {}
    for limit in (n + 1, n):
        monkeypatch.setattr(Graph, "BROADCAST_EDGE_LIMIT", limit)
        g = Graph(e)
        got[g._bc()] = sorted(map(tuple, g.pop_bubbles_round().collect()))
    assert got[True] == got[False]
    assert len(got[True]) < n, "bubble pop must remove edges"


@pytest.mark.parametrize("loop", ["reduce_pipeline", "assembly_pipeline"])
def test_reduction_loops_broadcast_gate_bound(spark, sf_dir, monkeypatch, loop):
    """The broadcast gate at its bound: with BROADCAST_EDGE_LIMIT at the
    input edge count n the first round shuffles, at n + 1 every round
    broadcasts, and both sides reach the same edges through the same
    edge counts. `stats["broadcast"]` names each round's side, read
    from that round's input count."""
    from sora_spark.graph.derive import e_co_small

    li = tables(spark, sf_dir).lineitem
    e = e_co_small(li).localCheckpoint(eager=True)
    n = e.count()
    rows, counts, sides = {}, {}, {}
    for limit in (n, n + 1):
        monkeypatch.setattr(Graph, "BROADCAST_EDGE_LIMIT", limit)
        stats = {}
        out = getattr(Graph(e), loop)(stats=stats)
        rows[limit] = sorted(map(tuple, out.collect()))
        counts[limit], sides[limit] = stats["edge_counts"], stats["broadcast"]
        read = counts[limit][: len(sides[limit])]
        assert sides[limit] == [c < limit for c in read], stats
    assert sides[n][0] is False and all(sides[n + 1])
    assert rows[n] == rows[n + 1] and counts[n] == counts[n + 1]
    assert counts[n][-1] < n, "the loop must remove edges"


def test_seeded_graph_skips_the_edge_count(spark):
    """A Graph seeded with its edge count (`_sub(edges, n)`) picks the
    connected-components regime without a count job: on an eagerly
    checkpointed frame the driver regime runs fewer jobs than on the
    same edges unseeded, and labels them the same."""
    import uuid

    sc = spark.sparkContext
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "s long, d long"
    ).localCheckpoint(eager=True)

    def jobs(g):
        group = f"seeded-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            rows = _sorted(g.connected_components().collect())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), rows

    n_unseeded, unseeded = jobs(Graph(e))
    n_seeded, seeded = jobs(Graph(e)._sub(e, 3))
    assert n_seeded < n_unseeded, (n_seeded, n_unseeded)
    assert seeded == unseeded == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)]


def test_overlap_edges_reconstruct_document_chains(spark):
    """Overlap-join construction (qg19 core): on a corpus with no
    cross-document repeats, the overlap graph is exactly each
    document's consecutive-window chain."""
    from sora_spark.graph.overlap import derive_reads, overlap_edges

    rows = [
        (0, "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJ"),  # 46 chars
        (1, "zyxwvutsrqponmlkjihgfedcba9876543210JIHGFEDCBA"),
    ]
    docs = spark.createDataFrame(
        [(i, t, len(t)) for i, t in rows], "doc_id INT, text STRING, n_chars INT"
    )
    reads = derive_reads(docs, read_len=20, stride=10)
    # 46 chars -> windows at 0,10,20 (start 26 would overrun)
    assert reads.count() == 6
    edges = sorted(
        map(tuple, overlap_edges(reads, read_len=20, min_ovl=10).collect())
    )
    assert edges == [(0, 1), (1, 2), (1000, 1001), (1001, 1002)]


def test_overlap_repeat_masking_drops_hot_kmers(spark):
    """max_key_freq (repeat masking — the 100 TB guard): a k-mer shared
    by many reads stops generating edges once its prefix frequency
    exceeds the cap, while unique-overlap edges survive."""
    from sora_spark.graph.overlap import derive_reads, overlap_edges

    repeat = "REPEATREPE"  # 10-char hot overlap block
    # head(10) + REPEAT(10) + tail(10): window 0 ends with the hot
    # block, window 1 starts with it -> every doc's read 0 overlaps
    # every doc's read 1 (5x5 edges), all through one hot k-mer
    texts = [f"{i:04d}ABCDEF" + repeat + f"tail{i:06d}" for i in range(5)]
    docs = spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(texts)],
        "doc_id INT, text STRING, n_chars INT",
    )
    reads = derive_reads(docs, read_len=20, stride=10)
    unmasked = overlap_edges(reads, read_len=20, min_ovl=10).count()
    masked = overlap_edges(
        reads, read_len=20, min_ovl=10, max_key_freq=1
    ).count()
    assert unmasked == 25 and masked == 0, (unmasked, masked)


def test_overlap_join_plan_is_equi_join(spark, sf_dir):
    """qg19's suffix-prefix join must compile to a hash equi-join on
    the k-mer key — never a nested-loop/cartesian all-pairs scan (the
    property that keeps overlap construction 100 TB-safe)."""
    import contextlib
    import io

    from sora_spark.queries import REGISTRY

    df = REGISTRY["qg19_overlap_graph"].spark_fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "Join" in p


def test_fasta_roundtrip_feeds_assembly(spark, sf_dir, tmp_path):
    """The reference's native input path, end-to-end: derived reads
    written as wrapped FASTA, read back through the registered 'fasta'
    Python DataSource, and fed to the overlap join — the resulting
    edge set must equal the direct in-memory path (sequence I/O and
    overlap construction compose losslessly)."""
    from sora_spark.catalog import tables
    from sora_spark.graph.overlap import derive_reads, overlap_edges
    from sora_spark.sources import fasta_datasource
    from sora_spark.sources.text import write_fasta

    docs = tables(spark, sf_dir).documents.limit(50)
    reads = derive_reads(docs)
    path = str(tmp_path / "reads_fasta")
    write_fasta(
        reads.select(F.col("read_id").cast("string").alias("h"), "seq"),
        path,
        "h",
        "seq",
        wrap=25,  # < read_len 40, so records are genuinely multi-line
    )
    fasta_datasource.register(spark)
    back = (
        spark.read.format("fasta")
        .load(path)
        .select(
            F.col("header").cast("bigint").alias("read_id"),
            F.col("sequence").alias("seq"),
        )
    )
    direct = sorted(map(tuple, overlap_edges(reads).collect()))
    via_fasta = sorted(map(tuple, overlap_edges(back).collect()))
    assert direct == via_fasta
    assert len(direct) > 0


def _two_hop_count_join(g):
    """The literal self-join form of Graph.two_hop_count: every
    2-path e1.d == e2.s materialized and counted."""
    e1, e2 = g.edges.alias("e1"), g.edges.alias("e2")
    return (
        e1.join(e2, F.col("e1.d") == F.col("e2.s"))
        .agg(F.count("*").alias("two_hop_count"))
    )


def test_two_hop_degree_form_matches_join_form(spark, sf_dir):
    """The Σ indeg·outdeg rewrite must equal the literal self-join on
    the real co-occurrence graph, on a hand-built multigraph-free
    digraph with hub structure, and with null endpoints."""
    from sora_spark.graph import Graph
    from sora_spark.graph.derive import e_co_small

    li = tables(spark, sf_dir).lineitem
    g = Graph(e_co_small(li).localCheckpoint(eager=True))
    a = g.two_hop_count().collect()[0]["two_hop_count"]
    b = _two_hop_count_join(g).collect()[0]["two_hop_count"]
    assert a == b and a > 0

    h = _g(spark, [(1, 2), (1, 3), (2, 3), (3, 4), (3, 5), (4, 1)])
    assert (
        h.two_hop_count().collect()[0]["two_hop_count"]
        == _two_hop_count_join(h).collect()[0]["two_hop_count"]
    )

    # null endpoints: a null mid vertex never matches the join key
    n = _g(spark, [(1, None), (None, 2), (3, 4), (4, 5)])
    assert n.two_hop_count().collect()[0]["two_hop_count"] == 1
    assert _two_hop_count_join(n).collect()[0]["two_hop_count"] == 1

    empty = _g(spark, [(1, 2)]).edges.filter("s < 0")
    assert (
        Graph(empty).two_hop_count().collect()[0]["two_hop_count"] == 0
    )


def test_derive_reads_overflow_is_loud(spark):
    """read_id packing (doc_id*1000 + window) must FAIL rather than
    silently collide when a document yields >= 1000 windows. The
    raise_error rides the read_id expression, so it fires exactly
    where ids are consumed (overlap_edges always evaluates them);
    a bare count() may prune the column and skip the check."""
    import pytest

    from sora_spark.graph.overlap import derive_reads

    big = spark.createDataFrame(
        [(1, "x" * 30000, 30000)], "doc_id long, text string, n_chars int"
    )
    with pytest.raises(Exception, match="collide read_ids"):
        derive_reads(big).agg(F.max("read_id")).collect()


def test_contigs_recover_document_substrings(spark, sf_dir):
    """Assembly ground truth: every contig whose reads all come from
    ONE document must be a verbatim substring of that document's text
    (read derivation + overlap join + reduction + compaction compose
    losslessly); chimeric cross-document chains are excluded the way
    a real assembler's mis-joins would be QC'd. At least 80% of
    contigs must be single-document."""
    from sora_spark.catalog import tables
    from sora_spark.graph import Graph
    from sora_spark.graph.overlap import (
        contig_sequences,
        derive_reads,
        overlap_edges,
    )

    docs = tables(spark, sf_dir).documents
    reads = derive_reads(docs)
    edges = Graph(overlap_edges(reads)).assembly_pipeline(max_iter=10)
    chains = Graph(Graph(edges).chain_edges()).compact_chains(
        with_paths=True
    )
    contigs = contig_sequences(reads, chains)
    # start read_id // 1000 = doc; single-doc chain iff every id in the
    # path shares that prefix
    single = (
        chains.select(
            "start", F.split("path", "-").alias("ids")
        )
        .withColumn(
            "one_doc",
            F.size(
                F.array_distinct(
                    F.transform(
                        "ids", lambda x: F.floor(x.cast("bigint") / 1000)
                    )
                )
            )
            == 1,
        )
        .select("start", "one_doc")
    )
    joined = (
        contigs.join(single, "start")
        .withColumn("doc_id", F.floor(F.col("start") / 1000))
        .join(docs.select("doc_id", "text"), "doc_id")
    )
    n_total = joined.count()
    n_single = joined.filter("one_doc").count()
    assert n_single >= 0.8 * n_total, (n_single, n_total)
    bad = joined.filter("one_doc").filter(
        ~F.expr("contains(text, contig)")
    )
    assert bad.count() == 0, bad.select("start").limit(5).collect()


def test_label_propagation_two_triangles(spark):
    """Two triangles bridged by one edge: round-2 labels hand-computed
    (sync updates, count-desc/label-asc tie-break)."""
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "s long, d long",
    )
    got = {
        r["v"]: r["lab"]
        for r in Graph(e).label_propagation(n_rounds=2).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 3, 6: 3}


def test_topological_levels_dag_and_cycle(spark):
    """Diamond + tail: levels are LONGEST-path depths; a cycle must
    raise, never emit a partial order."""
    import pytest as _pytest

    dag = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (6, 3)],
        "s long, d long",
    )
    got = {
        r["v"]: r["level"]
        for r in Graph(dag).topological_levels().collect()
    }
    # 3 peels after {1,6} and 2: longest path 1->3->4->5 / 6->3->4->5
    assert got == {1: 0, 6: 0, 2: 1, 3: 1, 4: 2, 5: 3}
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "s long, d long"
    )
    with _pytest.raises(ValueError, match="cycle"):
        Graph(cyc).topological_levels()


def test_local_clustering_hand_graph(spark):
    """Triangle + pendant: vertex coefficients hand-computed."""
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "s long, d long"
    )
    got = {
        r["v"]: (r["degree"], round(r["coef"], 6))
        for r in Graph(e).local_clustering().collect()
    }
    # v3: deg 3, one triangle -> 2*1/(3*2) = 1/3; v4 pendant deg 1 -> 0
    assert got == {
        1: (2, 1.0), 2: (2, 1.0), 3: (3, round(1 / 3, 6)), 4: (1, 0.0)
    }


def test_bwt_known_value(spark):
    """bwt('banana') must equal the textbook 'annb\\x01aa' (sentinel
    sorts first), and round-trip invertibility holds via LF-mapping."""
    from sora_spark.graph.overlap import bwt

    df = spark.createDataFrame([(0, "banana")], "doc_id long, text string")
    got = bwt(df).collect()[0]["bwt"]
    assert got == "annb\x01aa"
    # invert by iterated column prepending (textbook O(n^2) check)
    n = len(got)
    table = [""] * n
    for _ in range(n):
        table = sorted(got[i] + table[i] for i in range(n))
    original = next(r for r in table if r.endswith("\x01"))
    assert original == "banana\x01"


def test_reliable_checkpoint_mode_matches_local(spark, tmp_path, monkeypatch):
    """Graph(reliable_checkpoint_dir=...) swaps every per-round
    localCheckpoint for a reliable checkpoint() against a real
    directory (r10 verdict item 4 — local checkpoint blocks die with
    their executor; at 100 TB on preemptible nodes a 40-round CC
    would restart from zero). Same results bit-for-bit across
    CC / two-phase CC / PageRank / k-core / reduce_pipeline, and the
    reliable run must actually write RDD checkpoint files into the
    directory (otherwise the mode silently fell back to local)."""
    import os

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (2, 6),
             (7, 8), (8, 9), (7, 9), (10, 11)]
    ckpt = str(tmp_path / "reliable_ckpt")
    default = Graph.DRIVER_CC_EDGE_LIMIT

    def run(**kw):
        g = Graph(spark.createDataFrame(edges, "s long, d long"), **kw)
        return {
            # both regimes: the default bound and a bound of 0
            "cc": [(_cc_rows(g, b, monkeypatch, st), st["regime"])
                   for b, st in ((default, {}), (0, {}))],
            "cc2": sorted(map(tuple,
                              g.connected_components_twophase().collect())),
            "pr": sorted(
                (r["v"], round(r["rank"], 9))
                for r in g.pagerank(n_iter=4).collect()),
            "kcore": sorted(map(tuple, g.k_core(2).collect())),
            "reduce": sorted(map(tuple, g.reduce_pipeline().collect())),
        }

    local = run()
    reliable = run(reliable_checkpoint_dir=ckpt)
    assert reliable == local
    assert [regime for _, regime in local["cc"]] == ["driver", "distributed"]
    written = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckpt) for f in fs
    ]
    assert written, "reliable mode must write checkpoint files"


def test_one_pass_end_forms_match_union_references(spark):
    """The r14 one-derivation forms (explode(array(s, d)) for
    vertex_ids/degrees, _sym_edges for both orientations) must emit the
    same sets/multisets as the old union-of-two-selects — including
    NULL endpoints (explode of an array emits null elements exactly
    like the union did) and string vertex ids (the CC fallback type).
    """
    for schema, edges in (
        ("s long, d long", [(1, 2), (2, 3), (2, 3), (4, None), (5, 5)]),
        ("s string, d string", [("a", "b"), ("b", "c"), ("d", "d")]),
    ):
        g = Graph(spark.createDataFrame(edges, schema))
        e = g.edges
        vid_ref = {
            r["v"]
            for r in e.select(F.col("s").alias("v"))
            .union(e.select(F.col("d").alias("v")))
            .distinct()
            .collect()
        }
        assert {r["v"] for r in g.vertex_ids().collect()} == vid_ref
        ends_ref = e.select(F.col("s").alias("v")).union(
            e.select(F.col("d").alias("v"))
        )
        deg_ref = {
            (r["v"], r["degree"])
            for r in ends_ref.groupBy("v")
            .agg(F.count("*").alias("degree"))
            .collect()
        }
        assert {
            (r["v"], r["degree"]) for r in g.degrees().collect()
        } == deg_ref
        key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
        sym_ref = sorted(
            (
                (r["s"], r["d"])
                for r in e.select("s", "d")
                .union(
                    e.select(F.col("d").alias("s"), F.col("s").alias("d"))
                )
                .collect()
            ),
            key=key,
        )
        got = sorted(
            ((r["s"], r["d"]) for r in g._sym_edges(g.edges).collect()), key=key
        )
        assert got == sym_ref


def test_e_co_explode_expansion_matches_join_form(spark, sf_dir):
    """The r14 explode-first e_co pair expansion (chained index
    Generates + scalar element_at) must be set-identical to the
    order-key self-join formulation the E_CO_SQL oracle keeps —
    including orders with a single distinct part (no pairs)."""
    from sora_spark.graph import e_co

    li = tables(spark, sf_dir).lineitem
    got = {(r["s"], r["d"]) for r in e_co(li).collect()}
    a = li.select("l_orderkey", F.col("l_partkey").alias("s"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("d"))
    ref = {
        (r["s"], r["d"])
        for r in a.join(b, "l_orderkey")
        .filter(F.col("s") < F.col("d"))
        .select("s", "d")
        .distinct()
        .collect()
    }
    assert got == ref and got
