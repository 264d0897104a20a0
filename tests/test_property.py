"""Property-based cross-engine testing (SURVEY §5.4): hypothesis
generates random filter + group-by + aggregate specs over the star
schema; one spec renders BOTH the Spark DataFrame plan and the DuckDB
SQL, and results must match under the shared canonicalization. This is
the dialect-drift tripwire the fixed inventory can't provide.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from sora_spark.catalog import tables
from tests.oracle_utils import compare

# (column, kind, domain) — lineitem numeric/string surface
NUM_COLS = {
    "l_quantity": (1.0, 50.0),
    "l_discount": (0.0, 0.1),
    "l_extendedprice": (900.0, 100_000.0),
    "l_tax": (0.0, 0.08),
}
STR_COLS = {
    "l_returnflag": ["A", "N", "R"],
    "l_linestatus": ["F", "O"],
}
GROUP_COLS = ["l_returnflag", "l_linestatus"]
OPS = ["<", "<=", ">", ">="]


@st.composite
def query_spec(draw):
    n_preds = draw(st.integers(0, 2))
    preds = []
    for _ in range(n_preds):
        if draw(st.booleans()):
            col = draw(st.sampled_from(sorted(NUM_COLS)))
            lo, hi = NUM_COLS[col]
            val = round(draw(st.floats(lo, hi, allow_nan=False)), 3)
            op = draw(st.sampled_from(OPS))
            preds.append(("num", col, op, val))
        else:
            col = draw(st.sampled_from(sorted(STR_COLS)))
            vals = draw(
                st.lists(
                    st.sampled_from(STR_COLS[col]), min_size=1, max_size=2,
                    unique=True,
                )
            )
            preds.append(("in", col, sorted(vals)))
    conj = draw(st.sampled_from(["AND", "OR"])) if len(preds) == 2 else "AND"
    group = draw(
        st.lists(st.sampled_from(GROUP_COLS), max_size=2, unique=True)
    )
    agg_col = draw(st.sampled_from(sorted(NUM_COLS)))
    aggs = draw(
        st.lists(
            st.sampled_from(["count", "sum", "avg", "min", "max"]),
            min_size=1,
            max_size=3,
            unique=True,
        )
    )
    having = draw(st.sampled_from([None, 10, 100, 1000]))
    return {"preds": preds, "conj": conj, "group": sorted(group),
            "agg_col": agg_col, "aggs": sorted(aggs), "having": having}


def _pred_sql(p) -> str:
    if p[0] == "num":
        _, col, op, val = p
        return f"{col} {op} {val!r}"
    _, col, vals = p
    quoted = ", ".join(f"'{v}'" for v in vals)
    return f"{col} IN ({quoted})"


def _pred_col(p):
    if p[0] == "num":
        _, col, op, val = p
        c = F.col(col)
        return {"<": c < val, "<=": c <= val, ">": c > val, ">=": c >= val}[op]
    _, col, vals = p
    return F.col(col).isin(*vals)


_AGG_SQL = {
    "count": "count(*) AS agg_count",
    "sum": "round(sum({c}), 2) AS agg_sum",
    "avg": "round(avg({c}), 4) AS agg_avg",
    "min": "min({c}) AS agg_min",
    "max": "max({c}) AS agg_max",
}


def _agg_cols(spec):
    c = spec["agg_col"]
    m = {
        "count": F.count("*").alias("agg_count"),
        "sum": F.round(F.sum(c), 2).alias("agg_sum"),
        "avg": F.round(F.avg(c), 4).alias("agg_avg"),
        "min": F.min(c).alias("agg_min"),
        "max": F.max(c).alias("agg_max"),
    }
    return [m[a] for a in spec["aggs"]]


def render_sql(spec) -> str:
    sel = list(spec["group"]) + [
        _AGG_SQL[a].format(c=spec["agg_col"]) for a in spec["aggs"]
    ]
    sql = f"SELECT {', '.join(sel)} FROM lineitem"
    if spec["preds"]:
        sql += " WHERE " + f" {spec['conj']} ".join(
            _pred_sql(p) for p in spec["preds"]
        )
    if spec["group"]:
        sql += " GROUP BY " + ", ".join(spec["group"])
        if spec.get("having") is not None:
            sql += f" HAVING count(*) > {spec['having']}"
    return sql


def render_spark(spark, sf_dir, spec):
    df = tables(spark, sf_dir).lineitem
    if spec["preds"]:
        cols = [_pred_col(p) for p in spec["preds"]]
        cond = cols[0]
        for c in cols[1:]:
            cond = cond & c if spec["conj"] == "AND" else cond | c
        df = df.filter(cond)
    if spec["group"]:
        aggs = _agg_cols(spec)
        if spec.get("having") is not None:
            aggs = aggs + [F.count("*").alias("_hn")]
        out = df.groupBy(*spec["group"]).agg(*aggs)
        if spec.get("having") is not None:
            out = out.filter(F.col("_hn") > spec["having"]).drop("_hn")
        return out
    return df.agg(*_agg_cols(spec))


# derandomize: examples are a deterministic function of the code, so a
# later test run can never surface a brand-new failing example (drift
# hunting happens in-session, not as a flake at gate time)
_SETTINGS = dict(
    max_examples=25,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(spec=query_spec())
def test_random_filter_agg_matches_oracle(spec, spark, duck, sf_dir):
    compare(render_spark(spark, sf_dir, spec), duck, render_sql(spec),
            name=f"property:{spec}")


# ---- join-shape family --------------------------------------------------

DIMS = {
    "orders": ("o_orderkey", "l_orderkey", ["o_orderstatus", "o_orderpriority"]),
    "part": ("p_partkey", "l_partkey", ["p_brand", "p_type"]),
}


@st.composite
def join_spec(draw):
    dim = draw(st.sampled_from(sorted(DIMS)))
    dim_key, fact_key, group_cands = DIMS[dim]
    group = draw(st.sampled_from(group_cands))
    how = draw(st.sampled_from(["inner", "left"]))
    n_preds = draw(st.integers(0, 1))
    preds = []
    for _ in range(n_preds):
        col = draw(st.sampled_from(sorted(NUM_COLS)))
        lo, hi = NUM_COLS[col]
        val = round(draw(st.floats(lo, hi, allow_nan=False)), 3)
        preds.append(("num", col, draw(st.sampled_from(OPS)), val))
    return {"dim": dim, "dim_key": dim_key, "fact_key": fact_key,
            "group": group, "how": how, "preds": preds}


@settings(**_SETTINGS)
@given(spec=join_spec())
def test_random_join_agg_matches_oracle(spec, spark, duck, sf_dir):
    t = tables(spark, sf_dir)
    fact = t.lineitem
    for p in spec["preds"]:
        fact = fact.filter(_pred_col(p))
    joined = fact.join(
        t.table(spec["dim"]),
        F.col(spec["fact_key"]) == F.col(spec["dim_key"]),
        spec["how"],
    )
    got = (
        joined.groupBy(spec["group"])
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("s"),
        )
    )
    where = (
        " WHERE " + " AND ".join(_pred_sql(p) for p in spec["preds"])
        if spec["preds"]
        else ""
    )
    join_kw = "JOIN" if spec["how"] == "inner" else "LEFT JOIN"
    sql = (
        f"SELECT {spec['group']}, count(*) AS n, "
        f"round(sum(l_extendedprice), 2) AS s "
        f"FROM (SELECT * FROM lineitem{where}) f "
        f"{join_kw} {spec['dim']} ON f.{spec['fact_key']} = {spec['dim_key']} "
        f"GROUP BY {spec['group']}"
    )
    compare(got, duck, sql, name=f"join-property:{spec}")


# ---- window-function family --------------------------------------------

WIN_FUNCS = ["row_number", "rank", "dense_rank", "lag", "lead", "running_sum"]


@st.composite
def window_spec(draw):
    part = draw(
        st.lists(st.sampled_from(GROUP_COLS), min_size=1, max_size=2,
                 unique=True)
    )
    order_col = draw(st.sampled_from(sorted(NUM_COLS)))
    desc = draw(st.booleans())
    func = draw(st.sampled_from(WIN_FUNCS))
    return {"part": sorted(part), "order_col": order_col, "desc": desc,
            "func": func}


def _win_order_sql(spec, unique: bool) -> str:
    d = "DESC" if spec["desc"] else "ASC"
    keys = [f"{spec['order_col']} {d}"]
    if unique:
        keys += ["l_orderkey", "l_linenumber"]
    return ", ".join(keys)


def test_window_property_family(spark, duck, sf_dir):
    # hypothesis-driven but executed as one test: each example is a
    # full Spark job, so the derandomized examples are drawn once and
    # looped (keeps suite wall-time bounded).
    from pyspark.sql.window import Window

    examples = []
    @settings(max_examples=8, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(spec=window_spec())
    def _collect(spec):
        if spec not in examples:
            examples.append(spec)
    _collect()

    base_filter = "l_quantity <= 10"
    for spec in examples:
        oc, dsc, part = spec["order_col"], spec["desc"], spec["part"]
        # rank/dense_rank are tie-stable on the bare order key; the
        # others need the unique (orderkey, linenumber) tiebreak
        unique = spec["func"] not in ("rank", "dense_rank")
        okeys = [F.col(oc).desc() if dsc else F.col(oc).asc()]
        if unique:
            okeys += [F.col("l_orderkey"), F.col("l_linenumber")]
        w = Window.partitionBy(*part).orderBy(*okeys)
        m = {
            "row_number": F.row_number().over(w),
            "rank": F.rank().over(w),
            "dense_rank": F.dense_rank().over(w),
            "lag": F.lag(oc, 1).over(w),
            "lead": F.lead(oc, 1).over(w),
            "running_sum": F.round(
                F.sum(oc).over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
                2,
            ),
        }
        df = (
            tables(spark, sf_dir).lineitem
            .filter(F.col("l_quantity") <= 10)
            .select(
                *part, "l_orderkey", "l_linenumber",
                m[spec["func"]].alias("wval"),
            )
        )
        sql_fn = {
            "row_number": "row_number()",
            "rank": "rank()",
            "dense_rank": "dense_rank()",
            "lag": f"lag({oc}, 1)",
            "lead": f"lead({oc}, 1)",
            "running_sum": f"sum({oc})",
        }[spec["func"]]
        frame = (
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
            if spec["func"] == "running_sum"
            else ""
        )
        expr = (
            f"{sql_fn} OVER (PARTITION BY {', '.join(part)} "
            f"ORDER BY {_win_order_sql(spec, unique)}{frame})"
        )
        if spec["func"] == "running_sum":
            expr = f"round({expr}, 2)"
        sql = (
            f"SELECT {', '.join(part)}, l_orderkey, l_linenumber, "
            f"{expr} AS wval FROM lineitem WHERE {base_filter}"
        )
        compare(df, duck, sql, name=f"window-property:{spec}")


# ---- set-operation family ----------------------------------------------

SETOPS = ["UNION", "UNION ALL", "INTERSECT", "EXCEPT",
          "INTERSECT ALL", "EXCEPT ALL"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@st.composite
def setop_spec(draw):
    op = draw(st.sampled_from(SETOPS))
    branches = []
    for _ in range(2):
        cut = round(draw(st.floats(10_000.0, 400_000.0, allow_nan=False)), 2)
        cmp_op = draw(st.sampled_from(OPS))
        pris = draw(
            st.lists(st.sampled_from(PRIORITIES), min_size=1, max_size=4,
                     unique=True)
        )
        branches.append({"cut": cut, "op": cmp_op, "pris": sorted(pris)})
    return {"op": op, "branches": branches}


def _branch_sql(b) -> str:
    quoted = ", ".join(f"'{p}'" for p in b["pris"])
    return (
        "SELECT o_orderstatus, o_orderpriority FROM orders "
        f"WHERE o_totalprice {b['op']} {b['cut']!r} "
        f"AND o_orderpriority IN ({quoted})"
    )


def test_setop_property_family(spark, duck, sf_dir):
    examples = []
    @settings(max_examples=8, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(spec=setop_spec())
    def _collect(spec):
        if spec not in examples:
            examples.append(spec)
    _collect()

    for spec in examples:
        orders = tables(spark, sf_dir).orders
        dfs = []
        for b in spec["branches"]:
            c = F.col("o_totalprice")
            cond = {"<": c < b["cut"], "<=": c <= b["cut"],
                    ">": c > b["cut"], ">=": c >= b["cut"]}[b["op"]]
            dfs.append(
                orders.filter(cond & F.col("o_orderpriority").isin(b["pris"]))
                .select("o_orderstatus", "o_orderpriority")
            )
        a, b_ = dfs
        combined = {
            "UNION": lambda: a.union(b_).distinct(),
            "UNION ALL": lambda: a.union(b_),
            "INTERSECT": lambda: a.intersect(b_),
            "EXCEPT": lambda: a.subtract(b_),
            "INTERSECT ALL": lambda: a.intersectAll(b_),
            "EXCEPT ALL": lambda: a.exceptAll(b_),
        }[spec["op"]]()
        got = combined.groupBy("o_orderstatus").agg(
            F.count("*").alias("n"),
            F.count_distinct("o_orderpriority").alias("n_pri"),
        )
        sql = (
            "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, "
            "CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_pri FROM ("
            + _branch_sql(spec["branches"][0])
            + f" {spec['op']} "
            + _branch_sql(spec["branches"][1])
            + ") GROUP BY o_orderstatus"
        )
        compare(got, duck, sql, name=f"setop-property:{spec}")


# ---- scalar string-function family --------------------------------------

STR_FNS = ["upper", "lower", "reverse", "substr", "lpad", "replace",
           "trim_x", "len"]


@st.composite
def scalar_spec(draw):
    chain = draw(st.lists(st.sampled_from(STR_FNS), min_size=1, max_size=3))
    k = draw(st.integers(1, 12))
    return {"chain": chain, "k": k}


def _apply_chain_spark(col, spec):
    out = col
    for fn in spec["chain"]:
        k = spec["k"]
        out = {
            "upper": lambda c: F.upper(c),
            "lower": lambda c: F.lower(c),
            "reverse": lambda c: F.reverse(c),
            "substr": lambda c: F.substring(c, 1, k),
            "lpad": lambda c: F.lpad(c, k + 4, "_"),
            "replace": lambda c: F.replace(c, F.lit("a"), F.lit("@")),
            "trim_x": lambda c: F.trim(c),
            "len": lambda c: F.length(c).cast("string"),
        }[fn](out)
    return out


def _apply_chain_sql(expr, spec):
    for fn in spec["chain"]:
        k = spec["k"]
        expr = {
            "upper": f"upper({expr})",
            "lower": f"lower({expr})",
            "reverse": f"reverse({expr})",
            "substr": f"substr({expr}, 1, {k})",
            "lpad": f"lpad({expr}, {k + 4}, '_')",
            "replace": f"replace({expr}, 'a', '@')",
            "trim_x": f"trim({expr})",
            "len": f"CAST(length({expr}) AS VARCHAR)",
        }[fn]
    return expr


def test_scalar_string_property_family(spark, duck, sf_dir):
    examples = []
    @settings(max_examples=10, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(spec=scalar_spec())
    def _collect(spec):
        if spec not in examples:
            examples.append(spec)
    _collect()

    for spec in examples:
        df = (
            tables(spark, sf_dir).part
            .select("p_partkey",
                    _apply_chain_spark(F.col("p_name"), spec).alias("s"))
            .orderBy("p_partkey")
            .limit(300)
        )
        sql = (
            f"SELECT p_partkey, {_apply_chain_sql('p_name', spec)} AS s "
            "FROM part ORDER BY p_partkey LIMIT 300"
        )
        compare(df, duck, sql, name=f"scalar-property:{spec}")


# ---- semi/anti join family ---------------------------------------------

@st.composite
def semi_spec(draw):
    dim = draw(st.sampled_from(sorted(DIMS)))
    anti = draw(st.booleans())
    col = draw(st.sampled_from(sorted(NUM_COLS)))
    lo, hi = NUM_COLS[col]
    val = round(draw(st.floats(lo, hi, allow_nan=False)), 3)
    op = draw(st.sampled_from(OPS))
    dim_frac = draw(st.sampled_from([("o_orderstatus", "'O'"),
                                     ("p_brand", "'Brand#11'")]))
    return {"dim": dim, "anti": anti, "pred": ("num", col, op, val),
            "dim_col_val": dim_frac}


def test_semi_anti_join_property_family(spark, duck, sf_dir):
    examples = []
    @settings(max_examples=8, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(spec=semi_spec())
    def _collect(spec):
        if spec not in examples:
            examples.append(spec)
    _collect()

    for spec in examples:
        dim_name = spec["dim"]
        dim_key, fact_key, _ = DIMS[dim_name]
        dcol, dval = spec["dim_col_val"]
        if (dim_name == "orders") != (dcol == "o_orderstatus"):
            dcol, dval = ("o_orderstatus", "'O'") if dim_name == "orders" \
                else ("p_brand", "'Brand#11'")
        t = tables(spark, sf_dir)
        fact = t.lineitem.filter(_pred_col(spec["pred"]))
        dim = t.table(dim_name).filter(
            F.expr(f"{dcol} = {dval}")
        )
        how = "left_anti" if spec["anti"] else "left_semi"
        got = (
            fact.join(dim, F.col(fact_key) == F.col(dim_key), how)
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n"))
        )
        exists = "NOT EXISTS" if spec["anti"] else "EXISTS"
        sql = (
            "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n "
            f"FROM lineitem f WHERE {_pred_sql(spec['pred'])} AND {exists} "
            f"(SELECT 1 FROM {dim_name} d WHERE d.{dim_key} = f.{fact_key} "
            f"AND d.{dcol} = {dval}) GROUP BY l_returnflag"
        )
        compare(got, duck, sql, name=f"semi-property:{spec}")


# ---- date/time-function family (dialect-riskiest per SURVEY 5.5) --------

TRUNCS = ["year", "quarter", "month", "day"]
PARTS = ["year", "quarter", "month", "day", "hour"]


@st.composite
def date_spec(draw):
    trunc = draw(st.sampled_from(TRUNCS))
    part = draw(st.sampled_from(PARTS))
    months = draw(st.integers(-18, 18))
    days = draw(st.integers(-400, 400))
    return {"trunc": trunc, "part": part, "months": months, "days": days}


def test_datetime_property_family(spark, duck, sf_dir):
    examples = []
    @settings(max_examples=10, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(spec=date_spec())
    def _collect(spec):
        if spec not in examples:
            examples.append(spec)
    _collect()

    for spec in examples:
        t, p, m, d = spec["trunc"], spec["part"], spec["months"], spec["days"]
        df = (
            tables(spark, sf_dir).orders
            .select(
                "o_orderkey",
                F.date_format(
                    F.date_trunc(t, "o_orderdate"), "yyyy-MM-dd HH:mm:ss"
                ).alias("tr"),
                F.expr(f"extract({p} FROM o_orderdate)").cast("long").alias("pt"),
                F.date_format(
                    F.add_months(F.to_date("o_orderdate"), m), "yyyy-MM-dd"
                ).alias("am"),
                F.date_format(
                    F.date_add(F.to_date("o_orderdate"), d), "yyyy-MM-dd"
                ).alias("da"),
            )
            .orderBy("o_orderkey")
            .limit(400)
        )
        sql = f"""
            SELECT o_orderkey,
                   strftime(date_trunc('{t}', o_orderdate),
                            '%Y-%m-%d %H:%M:%S') AS tr,
                   CAST(extract({p} FROM o_orderdate) AS BIGINT) AS pt,
                   strftime(CAST(o_orderdate AS DATE)
                              + ({m}) * INTERVAL 1 MONTH,
                            '%Y-%m-%d') AS am,
                   strftime(CAST(o_orderdate AS DATE)
                              + ({d}) * INTERVAL 1 DAY,
                            '%Y-%m-%d') AS da
            FROM orders ORDER BY o_orderkey LIMIT 400
        """
        compare(df, duck, sql, name=f"datetime-property:{spec}")


# ---- graph family: random digraphs vs a pure-Python oracle ----------------
#
# Self-loops, isolated-but-self-looped vertices, multi-edges, and long
# chains all arise from the generator; the oracle is ~30 lines of
# plain Python mirroring the documented operator contracts
# (graph/graph.py): degrees count edge ENDS (a self-loop adds 2, each
# duplicate edge adds 2 ends), CC treats edges as undirected with
# component = min vertex id, one transitive-reduction round removes
# every edge (a,c) with a 2-path a->b->c, tips are degree-1 vertices
# whose sole neighbor has degree >= hub_degree.


@st.composite
def digraph_spec(draw):
    n_vertices = draw(st.integers(4, 24))
    n_edges = draw(st.integers(1, 60))
    edges = draw(
        st.lists(
            st.tuples(
                st.integers(0, n_vertices - 1),
                st.integers(0, n_vertices - 1),
            ),
            min_size=n_edges,
            max_size=n_edges,
        )
    )
    # bias in a chain sometimes: exercises O(diameter) vs O(log n) CC
    if draw(st.booleans()):
        edges += [(i, i + 1) for i in range(draw(st.integers(2, 12)))]
    return edges


def _py_degrees(edges):
    deg: dict = {}
    for s, d in edges:
        deg[s] = deg.get(s, 0) + 1
        deg[d] = deg.get(d, 0) + 1
    return deg


def _py_components(edges):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {v: find(v) for v in parent}


def _py_transitive_round(edges):
    eset = set(edges)
    outs: dict = {}
    for s, d in eset:
        outs.setdefault(s, set()).add(d)
    removal = {
        (a, c)
        for (a, c) in eset
        if any(c in outs.get(b, ()) for b in outs.get(a, ()))
    }
    return [e for e in edges if e not in removal]  # anti-join: multiset in


def _py_tips(edges, hub_degree=3):
    deg = _py_degrees(edges)
    nbrs: dict = {}
    for s, d in edges:
        nbrs.setdefault(s, []).append(d)
        nbrs.setdefault(d, []).append(s)
    return {
        v
        for v, dg in deg.items()
        if dg == 1 and any(deg[n] >= hub_degree for n in nbrs[v])
    }


def test_graph_property_family(spark, monkeypatch):
    from sora_spark.graph import Graph

    examples = []

    @settings(max_examples=8, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(edges=digraph_spec())
    def _collect(edges):
        if edges not in examples:
            examples.append(edges)

    _collect()

    default = Graph.DRIVER_CC_EDGE_LIMIT
    bc_default = Graph.BROADCAST_EDGE_LIMIT
    for edges in examples:
        df = spark.createDataFrame(edges, "s BIGINT, d BIGINT")
        g = Graph(df)

        got_deg = {r["v"]: r["degree"] for r in g.degrees().collect()}
        assert got_deg == _py_degrees(edges), f"degrees: {edges}"

        want_cc = _py_components(edges)
        # connected_components under both regimes: the default edge
        # bound (driver union-find) and a bound of 0 (min-label)
        for bound, regime in ((default, "driver"), (0, "distributed")):
            monkeypatch.setattr(Graph, "DRIVER_CC_EDGE_LIMIT", bound)
            stats = {}
            got_cc = {
                r["v"]: r["component"]
                for r in g.connected_components(stats=stats).collect()
            }
            assert (got_cc, stats["regime"]) == (want_cc, regime), \
                f"connected_components (bound {bound}): {edges}"
        got_cc = {
            r["v"]: r["component"]
            for r in g.connected_components_twophase().collect()
        }
        assert got_cc == want_cc, f"connected_components_twophase: {edges}"

        # the transitive round on both sides of the broadcast gate: the
        # default limit (broadcast) and a limit of 0 (shuffle)
        for limit in (bc_default, 0):
            monkeypatch.setattr(Graph, "BROADCAST_EDGE_LIMIT", limit)
            got_tr = sorted(
                (r["s"], r["d"])
                for r in g.transitive_reduction_round().collect()
            )
            assert got_tr == sorted(_py_transitive_round(edges)), \
                f"transitive round (limit {limit}): {edges}"

        got_tips = {r["v"] for r in g.tips().collect()}
        assert got_tips == _py_tips(edges), f"tips: {edges}"


# ---- as-of join family: random keyed event tables vs a Python oracle ------
#
# The union+window as-of join (operators/asof.py) has the subtlest
# semantics in the package: strictly-earlier matches only, equal-time
# right rows excluded, NULL right values fall through to the previous
# non-null one, tolerance nullifies (never searches earlier), and the
# latest match is by (time, tiebreak) order. The oracle is 15 lines of
# plain Python applying exactly that contract.


@st.composite
def asof_spec(draw):
    n_left = draw(st.integers(1, 25))
    n_right = draw(st.integers(0, 25))
    key = st.integers(0, 3)
    t = st.integers(0, 20)
    left = [
        (draw(key), draw(t), i) for i in range(n_left)
    ]
    right = [
        (
            draw(key),
            draw(t),
            100 + i,
            draw(st.one_of(st.none(), st.integers(-50, 50))),
        )
        for i in range(n_right)
    ]
    tol = draw(st.sampled_from([None, 0, 3, 10]))
    return {"left": left, "right": right, "tol": tol}


def _py_asof(left, right, tol):
    out = {}
    for k, t, tb in left:
        cands = [
            (rt, rtb, v)
            for (rk, rt, rtb, v) in right
            if rk == k and rt < t and v is not None
        ]
        if not cands:
            out[tb] = None
            continue
        rt, rtb, v = max(cands, key=lambda c: (c[0], c[1]))
        if tol is not None and rt < t - tol:
            out[tb] = None
        else:
            out[tb] = v
    return out


def test_asof_join_property_family(spark):
    from sora_spark.operators.asof import asof_join

    examples = []

    @settings(max_examples=8, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(spec=asof_spec())
    def _collect(spec):
        if spec not in examples:
            examples.append(spec)

    _collect()

    for spec in examples:
        left = spark.createDataFrame(
            spec["left"], "k BIGINT, t BIGINT, seq BIGINT"
        )
        right = spark.createDataFrame(
            [(k, t, tb, v) for (k, t, tb, v) in spec["right"]],
            "k BIGINT, t BIGINT, seq BIGINT, quote BIGINT",
        )
        got = {
            r["seq"]: r["asof_value"]
            for r in asof_join(
                left, right, key="k", time_col="t", tiebreak_col="seq",
                right_value_col="quote", tolerance=spec["tol"],
            ).collect()
        }
        want = _py_asof(spec["left"], spec["right"], spec["tol"])
        assert got == want, f"asof mismatch: {spec}"


def test_mix_split_membership_stability(spark, sf_dir):
    """The md5-threshold curation ops (split_by_hash_portable,
    mix_sources) must be GROWTH-STABLE: membership of a doc is a pure
    function of its id, so restricting the corpus to any subset never
    changes a surviving doc's assignment — the property that lets an
    incremental corpus keep its split/mix without reshuffling history.
    Also pins rate monotonicity: a higher rate keeps a superset."""
    from sora_spark.llm.curate import mix_sources, split_by_hash_portable

    docs = tables(spark, sf_dir).documents
    subset = docs.filter(F.col("doc_id") % 3 == 0)

    full_split = {
        r["doc_id"]: r["split"]
        for r in split_by_hash_portable(
            docs, {"train": 0.8, "val": 0.1, "test": 0.1}
        ).select("doc_id", "split").collect()
    }
    sub_split = {
        r["doc_id"]: r["split"]
        for r in split_by_hash_portable(
            subset, {"train": 0.8, "val": 0.1, "test": 0.1}
        ).select("doc_id", "split").collect()
    }
    assert sub_split == {k: v for k, v in full_split.items() if k % 3 == 0}

    kept_lo = {
        r["doc_id"]
        for r in mix_sources(docs, {"src0": 0.3}, default_rate=0.2).collect()
    }
    kept_hi = {
        r["doc_id"]
        for r in mix_sources(docs, {"src0": 0.7}, default_rate=0.5).collect()
    }
    assert kept_lo <= kept_hi, "raising rates must only ADD documents"
    kept_sub = {
        r["doc_id"]
        for r in mix_sources(subset, {"src0": 0.3}, default_rate=0.2).collect()
    }
    assert kept_sub == {d for d in kept_lo if d % 3 == 0}


def test_percentile_approx_rank_guarantee_sweep(spark, sf_dir):
    """percentile_approx's CONTRACT is a rank guarantee: with accuracy
    a, the returned value lies between the exact (p - 1/a) and
    (p + 1/a) percentiles. Swept over percentiles x accuracies x two
    value domains (integral-ish quantity, wide-range price) instead of
    the single fixed point the capability test pins (VERDICT r05
    item 7)."""
    li = tables(spark, sf_dir).lineitem
    n = li.count()
    for col in ("l_quantity", "l_extendedprice"):
        for p in (0.05, 0.25, 0.5, 0.75, 0.95):
            for acc in (100, 1000, 10000):
                # + 1.5/n: approx returns an ELEMENT while exact
                # percentile interpolates between ranks, so the
                # envelope must be at least one rank step wide even
                # when 1/acc < 1/n
                eps = 1.0 / acc + 1.5 / n
                lo_p, hi_p = max(p - eps, 0.0), min(p + eps, 1.0)
                row = li.select(
                    F.percentile_approx(col, p, acc).alias("a"),
                    F.percentile(col, lo_p).alias("lo"),
                    F.percentile(col, hi_p).alias("hi"),
                ).collect()[0]
                assert row["lo"] <= row["a"] <= row["hi"], (
                    f"{col} p={p} acc={acc}: approx {row['a']} outside "
                    f"exact rank envelope [{row['lo']}, {row['hi']}]"
                )


def test_seeded_sampling_sweep(spark, sf_dir):
    """Bernoulli sampling swept over seeds x fractions: every draw's
    row count inside a 4-sigma binomial envelope, every plan
    deterministic under re-evaluation, and distinct seeds must not
    collapse to one sample (the seed actually feeds the RNG)."""
    li = tables(spark, sf_dir).lineitem.select("l_orderkey", "l_linenumber")
    n = li.count()
    counts = {}
    for frac in (0.05, 0.2, 0.5):
        sigma = math.sqrt(n * frac * (1 - frac))
        per_seed = []
        for seed in (1, 7, 42, 1337):
            s = li.sample(frac, seed=seed)
            c1, c2 = s.count(), s.count()
            assert c1 == c2, f"seed={seed} frac={frac}: plan not deterministic"
            assert abs(c1 - n * frac) <= 4 * sigma, (
                f"seed={seed} frac={frac}: count {c1} outside 4-sigma "
                f"envelope around {n * frac:.0f}"
            )
            per_seed.append(c1)
        counts[frac] = per_seed
        assert len(set(per_seed)) > 1, (
            f"frac={frac}: all seeds produced identical counts {per_seed}"
            " — seed not feeding the sampler"
        )
    # fractions must order the expected way on average
    assert sum(counts[0.05]) < sum(counts[0.2]) < sum(counts[0.5])


def test_stratified_sampling_sweep(spark, sf_dir):
    """sampleBy (stratified) swept over seeds: per-stratum counts must
    track their requested fractions (4-sigma binomial per stratum),
    with different fractions per key actually differing in effect."""
    li = tables(spark, sf_dir).lineitem.select("l_returnflag")
    fracs = {"A": 0.1, "N": 0.5, "R": 0.25}
    base = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()
    }
    for seed in (3, 11, 99):
        got = {
            r["l_returnflag"]: r["n"]
            for r in li.sampleBy("l_returnflag", fracs, seed=seed)
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        for key, frac in fracs.items():
            nk = base[key]
            sigma = math.sqrt(nk * frac * (1 - frac))
            assert abs(got.get(key, 0) - nk * frac) <= 4 * sigma, (
                f"seed={seed} stratum={key}: {got.get(key, 0)} outside "
                f"4-sigma of {nk * frac:.0f}"
            )
        # N sampled at 5x A's rate: relative retention must reflect it
        assert got["N"] / base["N"] > got["A"] / base["A"]


def test_approx_count_distinct_rsd_sweep(spark, sf_dir):
    """approx_count_distinct swept over rsd settings x columns of very
    different cardinality: relative error within 4x the requested rsd
    (HLL++ error is ~1 sigma = rsd), and a tighter rsd must not give a
    WORSE estimate on the same column by more than the loose bound."""
    li = tables(spark, sf_dir).lineitem
    for col in ("l_partkey", "l_orderkey", "l_returnflag"):
        exact = li.select(F.countDistinct(col)).collect()[0][0]
        for rsd in (0.01, 0.05):
            approx = li.select(
                F.approx_count_distinct(col, rsd)
            ).collect()[0][0]
            rel = abs(approx - exact) / max(exact, 1)
            assert rel <= 4 * rsd, (
                f"{col} rsd={rsd}: relative error {rel:.4f} > {4 * rsd}"
            )


# ---- overlap-graph construction vs a pure-Python oracle -------------


@st.composite
def _doc_corpus(draw):
    """Small corpora over a 3-letter alphabet: repeats are FREQUENT, so
    the overlap join's collision/branch behavior is genuinely hit."""
    n = draw(st.integers(min_value=1, max_value=6))
    docs = []
    for i in range(n):
        length = draw(st.integers(min_value=0, max_value=40))
        text = "".join(
            draw(
                st.lists(
                    st.sampled_from("abc"),
                    min_size=length,
                    max_size=length,
                )
            )
        )
        docs.append((i, text, len(text)))
    return docs


@settings(**{**_SETTINGS, "max_examples": 15})
@given(docs=_doc_corpus())
def test_overlap_edges_match_python_oracle(docs, spark):
    """overlap_edges (read_len 12 / stride 6 / min_ovl 6) must equal a
    direct nested-loop Python computation of suffix-prefix matches
    over the same derived windows — including repeat-heavy corpora
    where one 6-mer keys many reads."""
    from sora_spark.graph.overlap import derive_reads, overlap_edges

    RL, STR, OVL = 12, 6, 6
    expected_reads = {}
    for doc_id, text, n_chars in docs:
        if n_chars < RL:
            continue
        for i in range((n_chars - RL) // STR + 1):
            expected_reads[doc_id * 1000 + i] = text[i * STR : i * STR + RL]
    expected = sorted(
        (a, b)
        for a, sa in expected_reads.items()
        for b, sb in expected_reads.items()
        if a != b and sa[RL - OVL :] == sb[:OVL]
    )

    df = spark.createDataFrame(docs, "doc_id long, text string, n_chars int")
    reads = derive_reads(df, read_len=RL, stride=STR)
    got = sorted(
        map(
            tuple,
            overlap_edges(reads, read_len=RL, min_ovl=OVL).collect(),
        )
    )
    assert got == expected


# ---- incremental view maintenance: random CDC streams vs recompute --------
#
# The delta algebra (operators/incremental.py) must be observationally
# identical to a from-scratch rebuild for ANY interleaving of inserts
# and deletes, including groups that drain to zero and reappear across
# batches. Python oracle = rebuild over the surviving multiset.


def test_incremental_view_property_family(spark):
    import random

    from sora_spark.operators import incremental as inc

    rng = random.Random(20260814)
    keys = ["a", "b", "c", "d", None]  # include a NULL group key
    for trial in range(6):
        base = [
            (rng.choice(keys), float(rng.randint(1, 9)))
            for _ in range(rng.randint(0, 12))
        ]
        live = list(base)
        view = inc.build_view(
            spark.createDataFrame(base, "g string, x double")
            if base
            else spark.createDataFrame([], "g string, x double"),
            ["g"],
            ["x"],
        )
        for _batch in range(3):
            cdc = []
            for _ in range(rng.randint(1, 8)):
                if live and rng.random() < 0.4:
                    row = live.pop(rng.randrange(len(live)))
                    cdc.append((row[0], row[1], "D"))
                else:
                    row = (rng.choice(keys), float(rng.randint(1, 9)))
                    live.append(row)
                    cdc.append((row[0], row[1], "I"))
            view = inc.refresh(
                view,
                spark.createDataFrame(cdc, "g string, x double, op string"),
                ["g"],
                ["x"],
            ).localCheckpoint(eager=True)  # chain batches like a real feed
        got = {r["g"]: (r["n"], round(r["sum_x"], 6)) for r in view.collect()}
        want: dict = {}
        for g, x in live:
            n, s = want.get(g, (0, 0.0))
            want[g] = (n + 1, s + x)
        want = {g: (n, round(s, 6)) for g, (n, s) in want.items()}
        assert got == want, f"trial {trial}: {got} != {want}"


def test_zvalue_bijection_property(spark):
    """The Morton interleave must be a bijection on bits×bits pairs:
    decode by bit de-interleave recovers (x, y) exactly, and the SQL
    rendering agrees with the Column rendering for every pair."""
    from sora_spark.operators.layout import zvalue, zvalue_sql

    import random

    rng = random.Random(7)
    pairs = [(rng.randrange(256), rng.randrange(256)) for _ in range(64)]
    df = spark.createDataFrame(pairs, "x long, y long")
    rows = df.select(
        "x", "y",
        zvalue("x", "y", bits=8).alias("z"),
        F.expr(zvalue_sql("x", "y", bits=8)).alias("z_sql"),
    ).collect()
    seen = set()
    for r in rows:
        assert r["z"] == r["z_sql"], "two renderings must agree"
        x = y = 0
        for i in range(8):
            x |= ((r["z"] >> (2 * i)) & 1) << i
            y |= ((r["z"] >> (2 * i + 1)) & 1) << i
        assert (x, y) == (r["x"], r["y"]), "de-interleave must invert"
        seen.add(r["z"])
    assert len(seen) == len({(r["x"], r["y"]) for r in rows})


# ---- event analytics: random event streams vs Python oracles --------------


def _py_funnel(rows, stages):
    """rows = (user, ts, type). Strict-order advancement oracle."""
    by_user: dict = {}
    for u, t, ty in rows:
        by_user.setdefault(u, []).append((t, ty))
    counts = []
    for idx, stage in enumerate(stages):
        n = 0
        for u, evs in by_user.items():
            bound = -1.0
            ok = True
            for s in stages[: idx + 1]:
                nxt = [t for t, ty in evs if ty == s and t > bound]
                if not nxt:
                    ok = False
                    break
                bound = min(nxt)
            if ok:
                n += 1
        counts.append((idx, stage, n))
    return counts


def test_funnel_property_family(spark):
    import random

    from sora_spark.operators.events import funnel

    rng = random.Random(99)
    stages = ["a", "b", "c"]
    for trial in range(5):
        rows = [
            (
                rng.randrange(6),
                float(rng.randrange(1, 50)),  # duplicate times likely
                rng.choice(["a", "b", "c", "x"]),
            )
            for _ in range(rng.randrange(5, 40))
        ]
        # unique (user, ts) per type not required: funnel uses min() only
        df = spark.createDataFrame(
            [(u, t, i, ty) for i, (u, t, ty) in enumerate(rows)],
            "user_id long, ts double, event_id long, event_type string",
        )
        got = sorted(
            (r["stage_idx"], r["stage"], r["n_users"])
            for r in funnel(df, stages).collect()
        )
        want = sorted(_py_funnel(rows, stages))
        assert got == want, f"trial {trial}: {got} != {want}"


def _py_retention(rows):
    """rows = (user, day:int). Cohort triangle oracle on integer days."""
    first = {}
    for u, d in rows:
        first[u] = min(first.get(u, d), d)
    cells: dict = {}
    for u, d in set(rows):
        key = (first[u], d - first[u])
        cells.setdefault(key, set()).add(u)
    return {k: len(v) for k, v in cells.items()}


def test_retention_property_family(spark):
    import datetime
    import random

    from sora_spark.operators.events import retention

    rng = random.Random(321)
    for trial in range(4):
        rows = [
            (rng.randrange(8), rng.randrange(10))
            for _ in range(rng.randrange(5, 60))
        ]
        base = datetime.datetime(2024, 3, 1)
        df = spark.createDataFrame(
            [
                (u, base + datetime.timedelta(days=d, hours=u % 23))
                for u, d in rows
            ],
            "user_id long, ts timestamp",
        )
        got = {
            (r["cohort_day"].day - 1, r["day_offset"]): r["n_users"]
            for r in retention(df).collect()
        }
        want = _py_retention(rows)
        assert got == want, f"trial {trial}: {got} != {want}"


def test_entry_paths_property_family(spark):
    import random

    from sora_spark.operators.events import entry_paths

    rng = random.Random(77)
    for trial in range(4):
        rows = [
            (rng.randrange(5), t, i, rng.choice("abc"))
            for i, t in enumerate(
                rng.choices(range(20), k=rng.randrange(4, 30))
            )
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts long, event_id long, event_type string"
        )
        got = {
            r["path"]: r["n_users"] for r in entry_paths(df, k=3).collect()
        }
        by_user: dict = {}
        for u, t, i, ty in rows:
            by_user.setdefault(u, []).append((t, i, ty))
        want: dict = {}
        for u, evs in by_user.items():
            path = ">".join(ty for _, _, ty in sorted(evs)[:3])
            want[path] = want.get(path, 0) + 1
        assert got == want, f"trial {trial}: {got} != {want}"


def _py_kruskal(edges):
    """edges = (s, d, w) undirected. Kruskal under the (w, s, d) total
    order — the unique MSF Borůvka-with-tie-break must reproduce."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    msf = set()
    for s, d, w in sorted(
        {(min(s, d), max(s, d), w) for s, d, w in edges},
        key=lambda t: (t[2], t[0], t[1]),
    ):
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
            msf.add((s, d, w))
    return msf


def test_msf_property_family(spark, monkeypatch):
    import random

    from sora_spark.graph import Graph

    default = Graph.DRIVER_CC_EDGE_LIMIT
    rng = random.Random(4242)
    for trial in range(5):
        n_v = rng.randrange(4, 14)
        edges = {
            (rng.randrange(n_v), rng.randrange(n_v))
            for _ in range(rng.randrange(3, 26))
        }
        edges = [
            (s, d, float(rng.randrange(1, 5)))  # duplicate weights likely
            for s, d in edges
            if s != d
        ]
        if not edges:
            continue
        df = spark.createDataFrame(edges, "s long, d long, w double")
        want = _py_kruskal(edges)
        # each Borůvka contraction under both connected-components
        # regimes: the default bound (driver) and a bound of 0 (min-label)
        for bound in (default, 0):
            monkeypatch.setattr(Graph, "DRIVER_CC_EDGE_LIMIT", bound)
            got = {
                (r["s"], r["d"], r["w"])
                for r in Graph(df).minimum_spanning_forest().collect()
            }
            assert got == want, \
                f"trial {trial}, bound {bound}: {sorted(got)} != {sorted(want)}"


def test_scd2_property_family(spark):
    """SCD2 invariants on random change streams: per key, intervals
    tile [first_ts, ∞) without gaps or overlaps, exactly one open
    version, and valid_from values are exactly the input timestamps."""
    import random

    from sora_spark.operators.scd import scd2_history

    rng = random.Random(555)
    for trial in range(4):
        rows = [
            (rng.randrange(4), float(t), i, float(rng.randrange(100)))
            for i, t in enumerate(
                rng.choices(range(30), k=rng.randrange(4, 25))
            )
        ]
        df = spark.createDataFrame(
            rows, "k long, ts double, seq long, val double"
        )
        hist = scd2_history(df, ["k"], "ts", "seq", ["val"]).collect()
        by_key: dict = {}
        for r in hist:
            by_key.setdefault(r["k"], []).append(r)
        want_keys = {k for k, *_ in rows}
        assert set(by_key) == want_keys
        for k, vs in by_key.items():
            vs.sort(key=lambda r: (r["valid_from"], not r["is_current"]))
            opens = [r for r in vs if r["is_current"]]
            assert len(opens) == 1 and vs[-1]["is_current"]
            for prev, nxt in zip(vs, vs[1:]):
                assert prev["valid_to"] == nxt["valid_from"], "gap/overlap"
            ins = sorted(t for kk, t, _, _ in rows if kk == k)
            assert sorted(r["valid_from"] for r in vs) == ins


def _py_tarjan_scc(edges, verts):
    """Iterative Tarjan over the directed edge list → {v: min-of-SCC}."""
    import collections

    adj = collections.defaultdict(list)
    for s, d in edges:
        adj[s].append(d)
    index: dict = {}
    low: dict = {}
    onstack: set = set()
    stack: list = []
    counter = [0]
    comp: dict = {}

    def go(v0):
        work = [(v0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                onstack.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in onstack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    onstack.discard(w)
                    members.append(w)
                    if w == v:
                        break
                m = min(members)
                for w in members:
                    comp[w] = m
            work.pop()
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])

    for v in sorted(verts):
        if v not in index:
            go(v)
    return comp


def test_scc_property_family(spark):
    """strongly_connected_components vs pure-Python Tarjan on random
    digraphs (self-loop-free, cycles likely): per-vertex min-of-SCC
    labels must match EXACTLY, trial after trial — the distributed
    trim + FW/BW-min peel and the sequential stack algorithm must
    agree on every component boundary."""
    import random

    from sora_spark.graph import Graph

    rng = random.Random(20260814)
    for trial in range(5):
        n_v = rng.randrange(4, 14)
        edges = {
            (rng.randrange(n_v), rng.randrange(n_v))
            for _ in range(rng.randrange(4, 30))
        }
        edges = [(s, d) for s, d in edges if s != d]
        if not edges:
            continue
        df = spark.createDataFrame(edges, "s LONG, d LONG")
        got = {
            r["v"]: r["component"]
            for r in Graph(df).strongly_connected_components().collect()
        }
        verts = {v for e in edges for v in e}
        want = _py_tarjan_scc(edges, verts)
        assert got == want, f"trial {trial}: {got} != {want}"


def test_matching_property_family(spark):
    """maximal_matching structural invariants on random graphs, trial
    after trial: (validity) every matched pair is an edge and no
    vertex appears in two pairs; (maximality) no remaining edge has
    both endpoints unmatched — the defining property a greedy matcher
    must not silently lose when rounds interleave."""
    import random

    from sora_spark.graph import Graph

    rng = random.Random(77)
    for trial in range(4):
        n_v = rng.randrange(4, 16)
        edges = {
            tuple(sorted((rng.randrange(n_v), rng.randrange(n_v))))
            for _ in range(rng.randrange(4, 30))
        }
        edges = [(s, d) for s, d in edges if s != d]
        if not edges:
            continue
        df = spark.createDataFrame(edges, "s LONG, d LONG")
        pairs = [
            (r["x"], r["y"])
            for r in Graph(df).maximal_matching().collect()
        ]
        eset = set(edges)
        seen: set = set()
        for x, y in pairs:
            assert (x, y) in eset, f"trial {trial}: non-edge pair {x, y}"
            assert x not in seen and y not in seen, (
                f"trial {trial}: vertex matched twice"
            )
            seen.add(x)
            seen.add(y)
        for s, d in edges:
            assert s in seen or d in seen, (
                f"trial {trial}: edge {s, d} both endpoints unmatched — "
                "matching not maximal"
            )


def test_ppr_mass_conservation(spark, sf_dir):
    """Personalized PageRank invariant: teleport AND dangling mass
    both redirect to the seed set, so total rank mass is EXACTLY 1
    every round (up to float summation) — the property that breaks
    first if dangling handling or the seed indicator regresses."""
    from sora_spark.graph import Graph
    from sora_spark.graph.derive import e_co_small
    from sora_spark.queries.registry import REGISTRY  # noqa: F401

    li = tables(spark, sf_dir).lineitem
    g = Graph(e_co_small(li))
    seeds = [r.v for r in g.vertex_ids().orderBy("v").limit(3).collect()]
    for n_iter in (1, 4):
        total = (
            g.personalized_pagerank(seeds, n_iter=n_iter)
            .agg(F.sum("rank").alias("s"))
            .collect()[0]
            .s
        )
        assert abs(total - 1.0) < 1e-9, (n_iter, total)


def test_kmeans_lloyd_objective_monotone(spark, sf_dir):
    """Lloyd guarantee: one mean update never increases the clustering
    objective — sum of squared distances to the nearest centroid under
    the UPDATED codebook is <= under the seed codebook."""
    from sora_spark.llm import ann

    emb = tables(spark, sf_dir).embeddings

    def objective(cents):
        d = ann.centroid_distances(F.col("embedding"), cents)
        return (
            emb.select(F.array_min(d).alias("d2"))
            .agg(F.sum("d2").alias("j"))
            .collect()[0]
            .j
        )

    c0 = ann.kmeans_centroids(emb, n_centroids=4, iters=0)
    c1 = ann.kmeans_centroids(emb, n_centroids=4, iters=1)
    assert objective(c1) <= objective(c0) + 1e-9


# ---- BPE encoder equivalence family --------------------------------------

@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(words=st.lists(
    st.text(alphabet="ab", min_size=1, max_size=12),
    min_size=3, max_size=40,
))
def test_bpe_ranked_equals_sequential_on_trained_lists(words, spark):
    """The rank-dict encoder's equivalence claim, adversarially probed:
    a 2-letter alphabet with heavy repetition maximizes merge
    interaction (overlapping runs, merged tokens immediately feeding
    later merges — the regime where lowest-rank-first could in
    principle diverge from training-order replay if the merge list
    admitted two derivations of one token string). For every
    hypothesis corpus: train up to 8 merges with the REAL trainer,
    then encode_words_ranked must be token-identical to encode_words
    on every distinct word, and both must round-trip."""
    from sora_spark.llm import bpe

    docs = spark.createDataFrame(
        [(" ".join(words),)], "text string"
    )
    wc = bpe.word_counts(docs).localCheckpoint(eager=True)
    merges, _ = bpe.train(wc, 8)
    seq = {
        r.word: r.tokens
        for r in bpe.encode_words(wc, merges)
        .select("word", "tokens")
        .collect()
    }
    ranked = {
        r.word: r.tokens
        for r in bpe.encode_words_ranked(wc, merges)
        .select("word", "tokens")
        .collect()
    }
    assert ranked == seq, (merges, {
        w: (ranked[w], seq[w]) for w in seq if ranked[w] != seq[w]
    })
    assert all("".join(t) == w for w, t in ranked.items())


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),  # ts
            st.integers(min_value=1, max_value=40),   # per-event gap
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=300, deadline=None)
def test_running_max_sessionization_theorem(events):
    """The qs13 oracle's load-bearing claim, property-tested in pure
    Python: sessionizing by the RUNNING MAX of all prior (ts + gap)
    equals true interval-merge sessionization (Spark's session_window
    semantics: event windows [ts, ts+gap) merge while they overlap,
    half-open so ts == current session end starts a NEW session).

    Why they agree: if some prior event's end exceeds the current
    event's ts, that prior event must belong to the CURRENT session —
    an earlier session's end can never exceed a later session's
    boundary-event ts (the boundary event started a new session
    precisely because its ts reached the running end at that point,
    and ends only grow within a session). Tested with PER-EVENT
    variable gaps — strictly more general than qs13's per-user-
    constant gaps — including ties on ts."""
    evs = sorted(events)

    # ground truth: interval-merge scan (the session_window definition)
    true_sid, cur_end = [], None
    sid = 0
    for ts, gap in evs:
        if cur_end is None or ts >= cur_end:
            sid += 1
            cur_end = ts + gap
        else:
            cur_end = max(cur_end, ts + gap)
        true_sid.append(sid)

    # oracle form: boundary = ts >= max of ALL prior (ts + gap)
    oracle_sid, run_max = [], None
    sid2 = 0
    for ts, gap in evs:
        if run_max is None or ts >= run_max:
            sid2 += 1
        run_max = ts + gap if run_max is None else max(run_max, ts + gap)
        oracle_sid.append(sid2)

    assert oracle_sid == true_sid


def _cl_lifecycle_spec():
    """A random commit-log lifecycle: create rows, then a sequence of
    merge/delete/append/compact ops over a small key space. Appended
    keys come from per-step disjoint blocks (the format's new-rows
    contract); batch keys within one merge are unique (the merge
    window breaks exact (ts, src) ties arbitrarily otherwise)."""
    key = st.integers(min_value=0, max_value=19)
    row = st.tuples(key, st.sampled_from("abcd"), st.integers(1, 5))
    merge_op = st.tuples(
        st.just("merge"),
        st.lists(row, min_size=1, max_size=6,
                 unique_by=lambda r: r[0]),
    )
    delete_op = st.tuples(
        st.just("delete"),
        st.tuples(st.integers(2, 5), st.integers(0, 4)),
    )
    append_op = st.tuples(
        st.just("append"),
        st.lists(st.tuples(st.integers(0, 9), st.sampled_from("xyz"),
                           st.integers(1, 5)),
                 min_size=1, max_size=4,
                 unique_by=lambda r: r[0]),
    )
    compact_op = st.tuples(st.just("compact"), st.booleans())
    return st.tuples(
        st.lists(row, min_size=1, max_size=8, unique_by=lambda r: r[0]),
        st.lists(st.one_of(merge_op, delete_op, append_op, compact_op),
                 min_size=2, max_size=5),
    )


def test_commit_log_lifecycle_property(spark, tmp_path):
    """Property family for the commit-log table: after EVERY op the
    table equals a pure-Python reference model; every historical
    version time-travels to its model snapshot; and the CDC apply
    invariant holds for version pairs — applying table_changes(i, j)
    onto snapshot i reproduces snapshot j exactly. Exercises pruned
    merges, file-path-discovered deletes, plain and clustered
    compaction, and empty-table states under one random schedule."""
    import uuid as _uuid

    from sora_spark.sources import commit_log as cl

    examples = []

    @settings(max_examples=6, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(spec=_cl_lifecycle_spec())
    def _collect(spec):
        if spec not in examples:
            examples.append(spec)
    _collect()

    mk = lambda rows: spark.createDataFrame(
        rows, "k bigint, s string, ts bigint")

    for create_rows, ops in examples:
        path = str(tmp_path / f"t{_uuid.uuid4().hex[:8]}")
        model = {k: (s, ts) for k, s, ts in create_rows}
        cl.create_table(spark, path, mk(create_rows), stats_cols=["k"])
        snaps = {1: dict(model)}
        next_block = 100
        for kind, arg in ops:
            if kind == "merge":
                batch = [(k, s, ts) for k, s, ts in arg]
                v = cl.merge_upsert(spark, path, mk(batch), ["k"], "ts")
                for k, s, ts in batch:
                    old = model.get(k)
                    # latest ts wins; batch wins ties (window _src desc)
                    if old is None or ts >= old[1]:
                        model[k] = (s, ts)
            elif kind == "delete":
                m, r = arg
                v = cl.delete_where(spark, path, f"k % {m} = {r}")
                if v is None:
                    assert not any(k % m == r for k in model)
                    continue
                model = {k: v_ for k, v_ in model.items() if k % m != r}
            elif kind == "append":
                rows = [(next_block + k, s, ts) for k, s, ts in arg]
                next_block += 100
                v = cl.append(spark, path, mk(rows), stats_cols=["k"])
                for k, s, ts in rows:
                    model[k] = (s, ts)
            else:
                v = cl.compact(
                    spark, path, target_partitions=2,
                    cluster_by=["k"] if arg else None)
                if v is None:
                    continue
            got = {r["k"]: (r["s"], r["ts"])
                   for r in cl.read_table(spark, path).collect()}
            assert got == model, f"after {kind}: {got} != {model}"
            snaps[v] = dict(model)

        versions = sorted(snaps)
        # time travel to every recorded version
        for v in versions:
            got = {r["k"]: (r["s"], r["ts"])
                   for r in cl.read_table(spark, path, v).collect()}
            assert got == snaps[v], f"time travel v{v}"
        # CDC apply invariant on the longest span
        if len(versions) >= 2:
            i, j = versions[0], versions[-1]
            a, b = snaps[i], snaps[j]
            applied = dict(a)
            for r in cl.table_changes(spark, path, i, j, ["k"]).collect():
                if r["_change_type"] == "delete":
                    applied.pop(r["k"])
                else:
                    applied[r["k"]] = (r["s"], r["ts"])
            assert applied == b, f"CDC apply {i}->{j}"
