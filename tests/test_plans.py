"""Plan-level regression tests (SURVEY §4.1): the physical plans the
engine relies on at 100 TB must not silently regress — predicate
pushdown into parquet, broadcast joins for dimensions, top-k pushdown.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from sora_spark.queries import REGISTRY


@contextlib.contextmanager
def _scoped_confs(spark, confs: dict):
    """Set SQL confs for the block and RESTORE them reliably:
    `conf.get(k, None)` returns None for a key that was never
    explicitly set even when it has a SQL default, so the widespread
    `if old is not None: restore` idiom silently leaked overrides into
    later tests (latent until a non-alphabetical test order exposed it,
    round 6). No-default get captures the effective value; keys that
    genuinely have no value are unset on exit."""
    prev: dict = {}
    for k in confs:
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _plan_df(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _plan(spark, sf_dir, name: str, mode: str = "formatted") -> str:
    return _plan_df(REGISTRY[name].spark_fn(spark, sf_dir), mode)


def test_selective_filter_pushes_down(spark, sf_dir):
    p = _plan(spark, sf_dir, "qf2_selective_filter_sum")
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert pushed, "no PushedFilters line in scan"
    line = pushed[0]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in line, f"{frag} not pushed to parquet scan: {line}"


def test_join_topk_plan(spark, sf_dir):
    p = _plan(spark, sf_dir, "qj1_segment_revenue_topk")
    assert "BroadcastHashJoin" in p, "filtered customer side should broadcast"
    assert "TakeOrderedAndProject" in p, "top-10 should plan as TakeOrdered"


def test_dimension_joins_broadcast(spark, sf_dir):
    p = _plan(spark, sf_dir, "qa4_rollup")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p, "dimension joins must not SMJ"


def test_knn_broadcasts_probes(spark, sf_dir):
    p = _plan(spark, sf_dir, "ql4_knn_join")
    assert "Broadcast" in p, "probe side must broadcast, not shuffle"


def test_column_pruning(spark, sf_dir):
    p = _plan(spark, sf_dir, "qf2_selective_filter_sum")
    read = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read, "no ReadSchema in scan"
    # 11-column lineitem pruned to the 4 referenced columns
    assert "l_returnflag" not in read[0]
    assert "l_extendedprice" in read[0]


@pytest.mark.parametrize(
    "name", ["qa1_pricing_summary", "ql5_wordcount_topk"]
)
def test_partial_aggregation(spark, sf_dir, name):
    """Aggregations must combine map-side (partial -> exchange -> final)
    — the property that keeps the shuffle small at 100 TB."""
    p = _plan(spark, sf_dir, name, mode="simple")
    assert "partial_" in p, "no map-side partial aggregation in plan"
    assert p.index("partial_") > p.index("HashAggregate")


def test_wholestage_codegen_after_execution(spark, sf_dir):
    """The executed (final adaptive) plan runs inside whole-stage
    codegen spans."""
    df = REGISTRY["qa1_pricing_summary"].spark_fn(spark, sf_dir)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    assert "*(" in buf.getvalue()


def test_lsh_neardup_is_equi_join(spark, sf_dir):
    """qd3b's bucket join must plan as a hash/sort-merge EQUI join on
    the bucket key — never a BroadcastNestedLoopJoin or cartesian (the
    all-pairs shape it exists to avoid)."""
    p = _plan(spark, sf_dir, "qd3b_embedding_neardup_lsh")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or (
        "ShuffledHashJoin" in p
    ), f"no equi join in plan:\n{p}"


def test_jaccard_candidates_equi_join(spark, sf_dir):
    """qd2's shingle join must keep `sh == sh2` as an equi-join key
    (never a pair-exploding non-equi shape)."""
    p = _plan(spark, sf_dir, "qd2_ngram_jaccard")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """Joining a Hive-partitioned fact against a filtered dimension
    must inject a DPP subquery into the fact scan's PartitionFilters —
    at 100 TB this is the difference between scanning one date
    partition and scanning the table. Pins `dynamicpruning` in the
    formatted plan and the pruned row count against the static filter."""
    from pyspark.sql import functions as F

    from sora_spark.catalog import tables

    li = tables(spark, sf_dir).lineitem
    fact_path = str(tmp_path / "fact")
    li.write.partitionBy("l_returnflag").mode("overwrite").parquet(fact_path)
    fact = spark.read.parquet(fact_path)

    dim_path = str(tmp_path / "dim")
    spark.createDataFrame(
        [("A", "returned"), ("N", "kept"), ("R", "returned-late")],
        "flag STRING, meaning STRING",
    ).write.mode("overwrite").parquet(dim_path)
    dim = spark.read.parquet(dim_path).filter(F.col("meaning") == "kept")

    joined = fact.join(dim, fact.l_returnflag == dim.flag).groupBy("flag").agg(
        F.count("*").alias("n")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "dynamicpruning" in pf[0].lower(), (
        "no DPP expression in fact scan PartitionFilters:\n" + plan
    )
    [(flag, n)] = joined.collect()
    assert (flag, n) == ("N", li.filter(F.col("l_returnflag") == "N").count())


def test_global_sort_shapes(spark, sf_dir):
    """Global sorts must take one of the two scalable shapes: with a
    LIMIT, TakeOrderedAndProject (per-partition top-k, no global
    exchange — pinned via qt1); without, a range-partitioned sort
    (sample-based boundaries, partitions sort independently). A
    single-partition global sort would bottleneck at 100 TB."""
    from sora_spark.catalog import tables

    p = _plan(spark, sf_dir, "qt1_sort_nulls_last", mode="simple")
    assert "TakeOrderedAndProject" in p, f"limited sort not top-k:\n{p}"

    full = tables(spark, sf_dir).lineitem.orderBy("l_extendedprice")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        full.explain("simple")
    assert "rangepartitioning" in buf.getvalue().lower(), (
        "unlimited global sort must range-partition:\n" + buf.getvalue()
    )


def test_parquet_aggregate_pushdown(spark, sf_dir):
    """count/min/max with no filter can be answered from parquet FOOTER
    statistics (V2 reader + aggregatePushdown): the scan decodes zero
    data pages. At 100 TB that turns full-table count/min/max into a
    metadata operation. Pinned: PushedAggregation in the plan + values
    equal to the row-decoding path."""
    from sora_spark.catalog import tables

    want = (
        tables(spark, sf_dir)
        .lineitem.selectExpr(
            "count(*) AS n", "min(l_quantity) AS lo", "max(l_quantity) AS hi"
        )
        .collect()
    )
    old_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    old_push = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    try:
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        import os
        df = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        agg = df.selectExpr(
            "count(*) AS n", "min(l_quantity) AS lo", "max(l_quantity) AS hi"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            agg.explain("formatted")
        assert "PushedAggregation: [COUNT(*)" in buf.getvalue(), buf.getvalue()
        assert agg.collect() == want
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)
        spark.conf.set("spark.sql.parquet.aggregatePushdown", old_push)


def test_aqe_coalesces_small_shuffles(spark, sf_dir):
    """At small data volumes AQE must coalesce the 32 configured
    shuffle partitions down (AQEShuffleRead coalesced) — the property
    that makes one conf serve every scale factor."""
    from sora_spark.catalog import tables

    df = (
        tables(spark, sf_dir).lineitem
        .groupBy("l_returnflag", "l_linestatus")
        .count()
    )
    df.collect()  # AQE re-plans at runtime; explain AFTER execution
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "AQEShuffleRead" in p and "coalesced" in p.lower(), p


def test_join_strategy_hints_honored(spark, sf_dir):
    """User-level join strategy control: merge and shuffle_hash hints
    must override the planner's default choice."""
    from sora_spark.catalog import tables

    t = tables(spark, sf_dir)
    li, orders = t.lineitem, t.orders

    def plan_of(j):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("simple")
        return buf.getvalue()

    merged = li.join(
        orders.hint("merge"), li.l_orderkey == orders.o_orderkey
    )
    assert "SortMergeJoin" in plan_of(merged)
    hashed = li.join(
        orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey
    )
    assert "ShuffledHashJoin" in plan_of(hashed)


def test_aqe_skew_join_split_fires(spark, sf_dir, tmp_path):
    """AQE's skew-reader must split a manufactured hot key at runtime
    (complements qsk1's manual salting). Two conditions a 100 TB
    deployment must know: (1) detection thresholds are in SHUFFLE
    bytes, so the skewed payload has to survive column pruning, and
    (2) splits happen along MAP-TASK boundaries — a single-file,
    single-row-group source can never skew-split (or parallelize its
    scan); the fact side is written as 8 files first, as any real
    large table would be."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "64k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32k",
    }
    with _scoped_confs(spark, confs):
        from sora_spark.catalog import tables

        t = tables(spark, sf_dir)
        d = str(tmp_path / "skewfact")
        (
            t.lineitem.select(
                F.when(F.col("l_orderkey") % 3 == 0, F.lit(1))
                .otherwise(F.col("l_orderkey"))
                .alias("k"),
                F.md5(
                    F.concat_ws(
                        "-", "l_orderkey", "l_linenumber", "l_partkey"
                    )
                ).alias("pad"),
            )
            .repartition(8)
            .write.mode("overwrite")
            .parquet(d)
        )
        fact = spark.read.parquet(d)
        other = t.orders.select(
            F.col("o_orderkey").alias("k"), "o_totalprice"
        )
        j = fact.join(other, "k").groupBy().agg(
            F.count("*").alias("n"),
            F.sum(F.length("pad")).alias("padlen"),
        )
        [row] = j.collect()
        assert row["n"] == t.lineitem.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE skew-join split did not fire"
        assert "skewed" in plan, "no skewed AQEShuffleRead in final plan"


@pytest.mark.parametrize(
    "name",
    ["qiv1_interval_join", "qfz1_fuzzy_join", "qd2_ngram_jaccard"],
)
def test_blocked_joins_never_nested_loop(spark, sf_dir, name):
    """The blocked similarity/overlap joins exist precisely to avoid
    the theta-join nested loop — the planner must see an equi key
    (bin, gram, shingle) and never fall back to Cartesian/BNLJ."""
    p = _plan(spark, sf_dir, name, mode="simple")
    assert "CartesianProduct" not in p, name
    assert "BroadcastNestedLoopJoin" not in p, name


def test_topk_combiner_single_shuffle(spark, sf_dir):
    """The map-side combiner's value is shuffle reduction: exactly ONE
    hash exchange (on the group key) in the whole top-k plan."""
    p = _plan(spark, sf_dir, "qtk1_topk_combiner", mode="simple")
    assert p.count("Exchange hashpartitioning") == 1, p


def test_contamination_semi_join_before_dedup(spark, sf_dir):
    """qcont1's scale contract: the exploded train gram stream is
    broadcast-semi-joined against the eval set BEFORE any aggregation,
    so the only exchanges in the plan sit ABOVE the semi join (the
    surviving grams), never below it (the full corpus). In the simple-
    mode plan tree that means no Exchange may appear deeper than the
    BroadcastHashJoin LeftSemi (children print below with more
    indentation)."""
    p = _plan(spark, sf_dir, "qcont1_ngram_contamination", mode="simple")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    lines = p.splitlines()
    semi = [
        (i, len(l) - len(l.lstrip(" +-:")))
        for i, l in enumerate(lines)
        if "BroadcastHashJoin" in l and "LeftSemi" in l
    ]
    assert semi, f"no broadcast left-semi join in plan:\n{p}"
    i0, depth0 = semi[0]
    # the streamed (train) branch prints between the join line and its
    # build side, which starts at the BroadcastExchange; exchanges under
    # the broadcast subtree are the (tiny) eval-side distinct — fine
    build = next(
        i
        for i, l in enumerate(lines)
        if i > i0 and "BroadcastExchange" in l
    )
    below = [
        l
        for l in lines[i0 + 1 : build]
        if "Exchange hashpartitioning" in l
        and (len(l) - len(l.lstrip(" +-:"))) > depth0
    ]
    assert not below, (
        "train grams are shuffled below the eval semi-join:\n" + p
    )


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """100 TB posture: Spark's runtime bloom-filter join pruning (on by
    default) injects a might_contain filter on the FACT side of a
    shuffled join whose other side is selective — rows that cannot
    match are dropped at the scan, before the shuffle. The
    application-side size threshold is cluster-tuned (10 GB), so the
    local pin lowers it to 0 to exercise the mechanism; at real scale
    the defaults fire as-is. Result must equal the unfiltered join."""
    from pyspark.sql import functions as F

    from sora_spark.catalog import tables

    t = tables(spark, sf_dir)
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
    }
    with _scoped_confs(spark, confs):
        ord_f = t.orders.filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        j = t.lineitem.select("l_orderkey", "l_quantity").join(
            ord_f, F.col("l_orderkey") == F.col("o_orderkey")
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        p = buf.getvalue()
        assert "might_contain" in p and "bloom_filter_agg" in p, (
            "runtime bloom filter not injected:\n" + p
        )
        n = j.count()
    want = (
        t.lineitem.select("l_orderkey", "l_quantity")
        .join(
            t.orders.filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert n == want


def test_ivf_indexed_scan_prunes_to_candidate_lists(spark, sf_dir, tmp_path):
    """The 100 TB ANN claim as a tested invariant (VERDICT r05 item 4):
    `ivf_topk_indexed` against a `write_ivf_index` layout must
    (a) carry a STATIC `_cid IN (...)` entry in the corpus scan's
    PartitionFilters — partition pruning at planning time, not a
    post-scan filter — and (b) that IN-list must name at most
    |probes| x n_probe of the n_centroids inverted lists and strictly
    fewer than all of them: partition filters are applied to the file
    index before any file is read, so the IN-list cardinality IS the
    touched-directory bound. At scale this is what turns a full-corpus
    scan into reading ~n_probe/n_centroids of the data. (df.inputFiles
    deliberately NOT used: it lists the relation's files before
    pruning.)"""
    import os
    import re

    from pyspark.sql import functions as F

    from sora_spark.catalog import tables
    from sora_spark.llm import ann

    emb = tables(spark, sf_dir).embeddings
    n_centroids, n_probe = 8, 2
    path = os.path.join(str(tmp_path), "ivf")
    ann.write_ivf_index(emb, path, n_centroids=n_centroids, iters=2)
    probes = emb.filter(F.col("vec_id") < 2)  # <= 2 probes
    n_probes = probes.count()
    out = ann.ivf_topk_indexed(spark, path, probes, k=3, n_probe=n_probe)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    pf = [
        l for l in plan.splitlines()
        if "PartitionFilters" in l and "_cid" in l
    ]
    assert pf, "corpus scan has no _cid PartitionFilters:\n" + plan
    m = re.search(r"_cid#\d+ IN \(([0-9,]+)\)", pf[0])
    assert m, (
        "corpus scan must prune on a static _cid IN list:\n" + pf[0]
    )
    cand = set(m.group(1).split(","))
    total = {
        d.split("=")[1] for d in os.listdir(path) if d.startswith("_cid=")
    }
    assert cand <= total, f"IN-list {cand} names unknown lists {total}"
    assert len(cand) <= n_probes * n_probe, (
        f"IN-list {sorted(cand)} exceeds the |probes| x n_probe bound"
    )
    assert len(cand) < len(total), (
        f"IN-list covers every inverted list ({sorted(total)}) — "
        "pruning cannot fire"
    )
    # and the pruned scan still answers correctly (k rows per probe)
    assert out.count() == n_probes * 3


def test_cbo_stats_change_join_plan(spark, sf_dir):
    """CBO posture (VERDICT r05 item 6): with ANALYZE'd column stats +
    spark.sql.cbo.enabled, a selective filter on a dimension shrinks
    its SIZE ESTIMATE below the broadcast threshold at PLANNING time,
    so the initial plan is a BroadcastHashJoin — while the identical
    query over bare path reads (no stats: estimate = file size) plans
    a SortMergeJoin. At 100 TB this planning-time decision (join
    reordering / broadcast before the first shuffle ever executes) is
    what AQE's runtime re-planning cannot provide; stats feed it."""
    from sora_spark.catalog import register_analyzed_tables, tables

    db = register_analyzed_tables(
        spark, sf_dir, table_names=("customer", "orders")
    )
    confs = {
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
        # between the stats-estimated filtered-dim size (~5 rows, <1 KB)
        # and the column-pruned no-stats estimate (>= ~3.6 KB at sf0.001)
        "spark.sql.autoBroadcastJoinThreshold": "2048",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "2048",
    }
    with _scoped_confs(spark, confs):
        q = """
            SELECT o.o_orderkey, c.c_name
            FROM {o} o JOIN {c} c ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey < 5
        """
        with_stats = spark.sql(q.format(o=f"{db}.orders", c=f"{db}.customer"))
        t = tables(spark, sf_dir)
        t.orders.createOrReplaceTempView("_cbo_orders")
        t.customer.createOrReplaceTempView("_cbo_customer")
        no_stats = spark.sql(q.format(o="_cbo_orders", c="_cbo_customer"))

        def plan(df):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            return buf.getvalue()

        p_stats, p_bare = plan(with_stats), plan(no_stats)
        assert "BroadcastHashJoin" in p_stats, (
            "stats + CBO must plan a broadcast join:\n" + p_stats
        )
        assert "SortMergeJoin" in p_bare, (
            "without stats the same query must NOT broadcast "
            "(file-size estimate above threshold):\n" + p_bare
        )
        # same answer either way
        assert sorted(map(tuple, with_stats.collect())) == sorted(
            map(tuple, no_stats.collect())
        )


def test_simhash_hamming_join_plan_is_bucketed(spark, sf_dir):
    """qd6's candidate generation must be a hash equi-join on the
    (band, slice) bucket key — never a nested-loop all-pairs scan
    (the recall oracle would still pass on a cartesian plan, so the
    scale property needs its own pin)."""
    p = _plan(spark, sf_dir, "qd6_simhash_hamming")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_overlap_lengths_join_plan_is_equi(spark, sf_dir):
    """qg22's per-length overlap probes must each compile to k-mer
    equi-joins (same invariant as qg19, for the multi-length form)."""
    p = _plan(spark, sf_dir, "qg22_overlap_lengths")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_partitioned_write_scan_prunes_partitions(spark, sf_dir):
    """qsrc2: the read over the engine-written Hive-partitioned events
    table must carry a PartitionFilters entry on event_type (static
    partition pruning — only the selected partitions' files are
    touched)."""
    p = _plan(spark, sf_dir, "qsrc2_partitioned_write")
    lines = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert lines, "no PartitionFilters in scan"
    assert any("event_type" in l for l in lines), lines


def test_oov_vocab_broadcasts_over_token_stream(spark, sf_dir):
    """qta8/qpipe3 shape: the V-sized vocabulary must broadcast — the
    exploded token stream is never shuffled on the token key (its only
    exchange is the final per-group aggregation)."""
    for name in ("qta8_oov_rate", "qpipe3_curation_v2"):
        p = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in p, f"{name}: vocab must broadcast"


def test_incremental_view_never_shuffles_view(spark, sf_dir):
    """qmv1: every join in the refresh is broadcast (delta-bounded
    build sides); a SortMergeJoin would mean the stored view itself
    was shuffled to absorb the delta."""
    p = _plan(spark, sf_dir, "qmv1_incremental_agg")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p, "view side must not be reshuffled"


def test_winsorize_percentile_table_broadcasts(spark, sf_dir):
    """qa12: the per-group clip-band table is group-count sized and
    must broadcast back onto the fact scan."""
    p = _plan(spark, sf_dir, "qa12_winsorized_mean")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_time_rollup_single_expand_single_scan(spark, sf_dir):
    """qts2: all granularities from ONE scan via Expand — a plan that
    re-scans events per grain (union of scans) is wrong."""
    import re as _re

    p = _plan(spark, sf_dir, "qts2_time_rollup")
    # node-detail lines "(N) Scan parquet" — one per distinct scan node
    n_scans = len(_re.findall(r"^\(\d+\) Scan parquet", p, _re.M))
    assert n_scans == 1, f"rollup must not rescan per grain ({n_scans} scans)"
    assert "Expand" in p


def test_declared_results_partition_count_invariant(spark, sf_dir):
    """Determinism evidence the protocol PROMISES (SURVEY §2.0): the
    same declared query must produce identical rows under different
    shuffle-partition counts — i.e., nothing depends on partition
    boundaries or intra-partition arrival order. Exercises the
    queries whose shapes are most at risk: window ranking, LSH
    banding, ordered path aggregation, iterative label propagation,
    EWMA lags, hash-order capping."""
    risky = [
        "qw1_topk_per_group",
        "qd4_lsh_multiband",
        "qev3_entry_paths",
        "qg25_label_propagation",
        "qts3_ewma",
        "qcur6_per_source_cap",
    ]
    for name in risky:
        fn = REGISTRY[name].spark_fn
        with _scoped_confs(spark, {"spark.sql.shuffle.partitions": "7"}):
            a = sorted(map(tuple, fn(spark, sf_dir).collect()))
        with _scoped_confs(spark, {"spark.sql.shuffle.partitions": "37"}):
            b = sorted(map(tuple, fn(spark, sf_dir).collect()))
        assert a == b, f"{name}: result depends on partition count"


def test_containment_candidates_equi_join(spark, sf_dir):
    """qd8's shingle-containment join must keep `sh == sh2` inside the
    composite equi-join key exactly like qd2 — asymmetric containment
    changes the NUMERATOR, never the join shape."""
    p = _plan(spark, sf_dir, "qd8_containment")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_bm25_single_corpus_pass(spark, sf_dir):
    """qix3's plan must contain NO parquet scan: the one corpus pass
    happens when the per-doc (dl + per-term tf counters) aggregation is
    checkpointed, and every downstream derivation — df, corpus
    constants, scoring, top-k — reads that doc-count-sized table. A
    parquet scan in the final plan means a re-derivation regressed to
    rescanning the corpus (the first cut scanned it FOUR times).
    The two tiny lookups must come in as broadcasts, and the top-k as
    TakeOrderedAndProject (never a global sort)."""
    p = _plan(spark, sf_dir, "qix3_bm25")
    assert "Scan parquet" not in p, f"corpus re-scan in plan:\n{p}"
    assert p.count("BroadcastExchange") >= 2, p
    assert "TakeOrderedAndProject" in p, p


def test_ktruss_rounds_and_edge_monotonicity(spark, sf_dir):
    """k_truss structural invariants on the bounded graph: the peel
    converges within the measured depth bound, every surviving edge
    carries support >= k-2, and (monotonicity) the (k+1)-truss edge
    set is a subset of the k-truss edge set."""
    from sora_spark.graph.derive import e_co_small
    from sora_spark.graph.graph import Graph
    from sora_spark.catalog import tables as _tables

    li = _tables(spark, sf_dir).lineitem
    g = Graph(e_co_small(li))
    stats = {}
    t5 = g.k_truss(k=5, stats=stats)
    assert stats["rounds"] <= 10
    assert t5.filter("support < 3").count() == 0
    e5 = {(r["s"], r["d"]) for r in t5.select("s", "d").collect()}
    t6 = g.k_truss(k=6)
    e6 = {(r["s"], r["d"]) for r in t6.select("s", "d").collect()}
    assert e6 <= e5, "(k+1)-truss must be contained in the k-truss"


def test_global_row_index_no_single_partition_window(spark, sf_dir):
    """qt3's whole point: the contiguous global index must NOT plan a
    single-partition window (the `row_number() OVER (ORDER BY ...)`
    funnel) — the window must key on the range exchange's partition
    id. A SinglePartition exchange anywhere in the plan means the
    operator regressed to the 100 TB non-starter it exists to
    replace."""
    p = _plan(spark, sf_dir, "qt3_global_row_index", mode="simple")
    assert "SinglePartition" not in p, f"global funnel in plan:\n{p}"


def test_kmeans_assignment_is_map_only(spark, sf_dir):
    """qkm1's scale contract: centroid assignment is an argmin over
    broadcast LITERAL centroids — zero shuffle below the final
    per-cluster aggregate. Exactly one hash exchange (the groupBy cid)
    in the whole declared plan; no join of any kind."""
    p = _plan(spark, sf_dir, "qkm1_kmeans_semantic", mode="simple")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Join" not in p, "assignment must not join a centroid table"


def test_regression_family_partial_aggregation(spark, sf_dir):
    """qa18's regr_* family must partial-aggregate map-side — each
    statistic is a mergeable tuple of power sums, so the shuffle
    carries k rows per group, not the data."""
    p = _plan(spark, sf_dir, "qa18_regression_family", mode="simple")
    assert "partial_" in p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_union_by_name_no_shuffle(spark, sf_dir):
    """qso6 is map-only reconciliation: no hash exchange anywhere —
    the union and the missing-column NULL fill happen in the scan
    stage; the only movement is the final 1-row aggregate's single
    partition exchange."""
    p = _plan(spark, sf_dir, "qso6_union_by_name", mode="simple")
    assert "Exchange hashpartitioning" not in p, p


def test_markov_reuses_user_partitioning(spark, sf_dir):
    """qev7 costs two hash exchanges: user_id for the sequence window
    and (src, dst) for the transition counts; the row-normalizing
    window must NOT add a third (it partitions on src, a prefix of the
    agg partitioning — Spark reuses it only when keys match exactly,
    so we pin the total at <= 3 and the absence of a single-partition
    window, the actual scale hazard)."""
    p = _plan(spark, sf_dir, "qev7_markov_transitions", mode="simple")
    n = p.count("Exchange hashpartitioning")
    assert n <= 3, p
    assert "Exchange SinglePartition" not in p.split("Sort")[0], p


@pytest.mark.parametrize(
    "name", ["qev9_linear_attribution", "qix4_proximity_query"]
)
def test_interval_condition_joins_stay_equi(spark, sf_dir, name):
    """qev9's time-interval join and qix4's |Δpos| proximity join both
    carry non-equi residuals — Catalyst must still plan them as HASH
    equi-joins on the key with the residual as a post-join filter,
    never a nested-loop/cartesian (the all-pairs cliff at 100 TB)."""
    p = _plan(spark, sf_dir, name, mode="simple")
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p) or (
        "ShuffledHashJoin" in p
    ), p


def test_bucketed_join_eliminates_input_shuffles(spark, sf_dir):
    """qsrc5's whole point: joining two tables bucketed on the join
    key needs NO shuffle Exchange on either join input — the only
    shuffles left are the final rollup + output sort. Broadcast is
    disabled for the pin (at tiny sf the dimension side would
    broadcast, which also avoids the shuffle but hides the bucketed
    SMJ this test certifies); shuffle Exchanges are counted excluding
    BroadcastExchange (substring trap). The unbucketed twin under the
    same conf needs two MORE (one per join input). Quantitative pin so
    a silent bucketing-info loss (e.g. a projection dropping the
    outputPartitioning) fails the count, not just a vibe check."""
    from sora_spark.sources.parquet import read_table

    def shuffles(plan: str) -> int:
        return plan.count("Exchange") - plan.count("BroadcastExchange")

    with _scoped_confs(
        spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    ):
        pf = _plan(spark, sf_dir, "qsrc5_bucketed_join")
        assert "SortMergeJoin" in pf, pf
        assert "Bucketed: true" in pf, pf
        # count shuffles on the SIMPLE tree: formatted mode repeats
        # every node in its detail section, double-counting
        p = _plan(spark, sf_dir, "qsrc5_bucketed_join", mode="simple")
        base = shuffles(p)
        assert base == 2, (
            "bucketed join must shuffle ONLY rollup + sort:\n" + p
        )
        # unbucketed twin for contrast: same query over raw parquet
        o = read_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        )
        li = read_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        import pyspark.sql.functions as F

        twin = (
            o.join(li, o["o_orderkey"] == li["l_orderkey"], "inner")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
            .orderBy("o_orderpriority")
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            twin.explain("simple")
        tp = buf.getvalue()
    assert shuffles(tp) == base + 2, (
        "unbucketed twin should add one shuffle per join input:\n" + tp
    )


def test_semantic_decontamination_broadcasts_eval_side(spark, sf_dir):
    """qcont3's 100 TB posture IS the broadcast: the eval split must
    ship to the executors (BroadcastExchange feeding a broadcast
    join) and the train side must never shuffle for the similarity
    pass — the only shuffle Exchange is the per-label rollup chain."""
    p = _plan(spark, sf_dir, "qcont3_semantic_decontamination", mode="simple")
    assert "BroadcastExchange" in p, p
    assert "SortMergeJoin" not in p, p
    shuffles = p.count("Exchange") - p.count("BroadcastExchange")
    assert shuffles <= 3, (
        "similarity pass must not shuffle the train side:\n" + p
    )


def test_chi_square_single_corpus_pass(spark, sf_dir):
    """qab2's contingency pipeline must scan the corpus ONCE: the
    observed-count aggregation is the only corpus-sized exchange;
    marginals/expecteds are window sums over the 20-cell table (the
    first cut planned 8 exchanges — one re-aggregation per marginal,
    each re-scanning events)."""
    p = _plan(spark, sf_dir, "qab2_chi_square", mode="simple")
    assert p.count("Exchange hashpartitioning") <= 2, p
    assert "partial_" in p


def test_time_to_convert_single_aggregation(spark, sf_dir):
    """qev12 derives BOTH first-event timestamps from one
    conditional-min aggregation: exactly one hash exchange (user_id)
    — the per-type agg + self-join alternative costs two corpus scans
    and two shuffles for the same result."""
    p = _plan(spark, sf_dir, "qev12_time_to_convert", mode="simple")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "partial_" in p


def test_rank_family_single_shuffle(spark, sf_dir):
    """qw14's three relative-rank functions share ONE window spec, so
    the plan carries exactly one hash exchange (the partition key) —
    a second exchange would mean the functions stopped sharing the
    sort."""
    p = _plan(spark, sf_dir, "qw14_rank_family", mode="simple")
    assert p.count("Exchange hashpartitioning") == 1, p


def test_grouping_sets_single_expand(spark, sf_dir):
    """qa27 plans as ONE Expand + one partial-merged aggregate — the
    grouping-sets contract: per-set rescans would show as multiple
    scans/unions."""
    p = _plan(spark, sf_dir, "qa27_grouping_sets", mode="simple")
    assert p.count("Expand") == 1, p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "partial_" in p


def test_parameterized_sql_binds_before_pushdown(spark, sf_dir):
    """qsub6's load-bearing claim: named parameters bind as typed
    literals BEFORE analysis, so the bound predicates reach the
    parquet scans exactly like literal SQL — GreaterThanOrEqual on
    o_totalprice pushed to the orders scan, the two-segment In() to
    the customer scan, and the customer side broadcast (it is
    dim-sized). A parameter binding that survived to runtime as an
    opaque expression would break all three."""
    p = _plan(spark, sf_dir, "qsub6_parameterized_sql")
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any(
        "GreaterThanOrEqual(o_totalprice,150000.0)" in l for l in pushed
    ), f"bound :min_total not pushed to the orders scan: {pushed}"
    assert any(
        "In(c_mktsegment" in l and "BUILDING" in l for l in pushed
    ), f"bound segment IN-list not pushed to the customer scan: {pushed}"
    assert "BroadcastExchange" in p, "customer side must broadcast"


def test_bpe_encode_single_arrow_eval(spark, sf_dir):
    """qta20's 100 TB posture: ONE ArrowEvalPython over the
    checkpointed DISTINCT word table — no parquet rescan below the
    Python node (the corpus pass already happened and was
    checkpointed), no row-at-a-time BatchEvalPython, and exactly one
    UDF evaluation. Plain explode regressed this silently: Catalyst's
    InferFiltersFromGenerate pushed a size(tokens)>0 filter below the
    projection and re-evaluated the encode UDF twice per word (2x the
    vocab-sized Python cost); explode_outer carries no inferred filter
    (round-10 finding, fixed in qta20)."""
    import re as _re

    p = _plan(spark, sf_dir, "qta20_bpe_encode")
    arrow_nodes = _re.findall(r"^\(\d+\) ArrowEvalPython", p, _re.M)
    assert len(arrow_nodes) == 1, (
        f"encode must evaluate the Arrow UDF exactly once "
        f"({len(arrow_nodes)} nodes):\n" + p
    )
    assert "BatchEvalPython" not in p, "row-at-a-time Python crept in"
    assert not _re.search(r"^\(\d+\) Scan parquet", p, _re.M), (
        "the Python stage must run over the checkpointed word table, "
        "not a corpus rescan:\n" + p
    )


def test_ivf_indexed_probe_prunes_partitions(spark, sf_dir):
    """B15's scale contract, pinned at plan level: the probe-side read
    of a write_ivf_index layout must (a) carry the candidate-cid
    IN-list as a PARTITION filter (file-level pruning of non-candidate
    inverted lists — the reason the index exists), and (b) broadcast
    the probe set into the bucket join (probes are query-sized, the
    corpus is not); a SortMergeJoin would shuffle the corpus and erase
    the index's advantage."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from sora_spark.llm import ann
    from sora_spark.queries.bench_core import tables

    emb = tables(spark, sf_dir).embeddings
    root = tempfile.mkdtemp(prefix="sora_pin_ivf_")
    path = root + "/index"
    try:
        ann.write_ivf_index(emb, path, n_centroids=4, iters=1)
        probes = emb.filter(F.col("vec_id") % 10 == 0)
        df = ann.ivf_topk_indexed(spark, path, probes, k=3, n_probe=2)
        p = _plan_df(df)
        part_lines = [l for l in p.splitlines() if "PartitionFilters" in l]
        assert any(
            "_cid" in l and " IN " in l for l in part_lines
        ), f"candidate cids must prune partitions: {part_lines}"
        assert "BroadcastHashJoin" in p, p
        assert "SortMergeJoin" not in p, p
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_indexed_probes_floor_candidate_parallelism(spark, tmp_path):
    """Both indexed probes read their candidate lists through one
    shared scan, and pair scoring runs map-side on it. On a one-list
    index written as a single file that scan has one split, fewer than
    `defaultParallelism`, so for `ivf_topk_indexed` AND
    `ivfpq_topk_indexed` the list scan must feed a round-robin
    exchange; without it every candidate pair is scored in one
    task."""
    from pyspark.sql import functions as F

    from sora_spark.llm import ann

    par = spark.sparkContext.defaultParallelism
    if par == 1:
        pytest.skip("defaultParallelism == 1: no parallelism floor")
    rows = [
        (i, [float((i * 7 + d) % 11) - 5.5 for d in range(8)])
        for i in range(64)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    ).coalesce(1)
    probes = emb.filter(F.col("vec_id") < 4)
    ivf, pq = str(tmp_path / "ivf"), str(tmp_path / "pq")
    ann.write_ivf_index(emb, ivf, n_centroids=1, iters=1)
    ann.write_ivfpq_index(emb, pq, n_centroids=1, m_subs=2, n_codes=4,
                          iters=1)
    for path in (ivf, pq):
        assert spark.read.parquet(path).rdd.getNumPartitions() < par
    for name, df in (
        ("ivf", ann.ivf_topk_indexed(spark, ivf, probes, k=3, n_probe=1)),
        ("ivfpq", ann.ivfpq_topk_indexed(
            spark, pq, emb, probes, k=3, n_probe=1)),
    ):
        p = _plan_df(df, mode="simple")
        subs = _tree_subtrees(p, "Exchange RoundRobinPartitioning")
        assert any("FileScan parquet" in s and "_cid" in s for s in subs), (
            f"{name}: list scan does not feed a round-robin exchange:\n{p}")


def _tree_subtrees(plan: str, node: str) -> list[str]:
    """Every `node` occurrence in a simple-mode plan tree, with its
    full subtree. Spark's text tree indents every descendant strictly
    to the right of its parent's operator-name column, so a subtree
    ends at the first line whose operator starts at or left of the
    root's column."""
    import re as _re

    lines = plan.splitlines()

    def _col(line: str) -> int:
        m = _re.search(r"[+:]- ", line)
        return m.end() if m else 0

    out = []
    for i, line in enumerate(lines):
        if node not in line:
            continue
        col = _col(line)
        sub = [line]
        for nxt in lines[i + 1:]:
            if _col(nxt) <= col and nxt.strip():
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


def test_source_divergence_never_broadcasts_full_vocab(spark, sf_dir):
    """qta24's 100 TB posture (r10 verdict item 2 fix): the JS grid
    joins a TOP-K vocabulary, never the full distinct-token table —
    under Heaps' law the full vocab of a crawl corpus is billions of
    rows and broadcasting it OOMs the driver. Pinned on the
    uncheckpointed lineage (checkpoint=False keeps the limit visible;
    the production path checkpoints the same subtrees into
    ExistingRDD leaves): the top-K select must plan as
    TakeOrderedAndProject (per-partition top-K + K-row merge — no
    global sort, no driver collect), and EVERY BroadcastExchange
    subtree must be bounded by construction — i.e. contain either
    that limit or a scalar aggregate. This is the pin that caught the
    first r11 rewrite: the grid's left join against the unfiltered
    wordcount auto-broadcast the vocab-sized wc (bounded at fixture
    scale only by luck), fixed by pre-filtering wc to the top-K words
    (wt <= K x sources rows)."""
    from sora_spark.llm import textstats
    from sora_spark.queries.bench_core import tables

    docs = tables(spark, sf_dir).documents
    p = _plan_df(textstats.source_divergence(
        docs, top_k=16, checkpoint=False), mode="simple")
    assert "TakeOrderedAndProject" in p, (
        "top-K vocab must plan as TakeOrderedAndProject:\n" + p)
    assert "CollectLimit" not in p, (
        "vocab top-K must not collect to the driver:\n" + p)
    assert "CartesianProduct" not in p
    subs = _tree_subtrees(p, "BroadcastExchange")
    assert subs, "expected broadcast exchanges in the grid plan:\n" + p
    for s in subs:
        assert (
            "TakeOrderedAndProject" in s        # the K-limited vocab
            or "HashAggregate(keys=[]" in s     # a scalar aggregate
        ), "unbounded broadcast side in JS grid:\n" + s + "\n\nFULL:\n" + p


def test_commit_log_read_keeps_pushdown(spark, tmp_path):
    """The commit-log read path must stay an ordinary pruned parquet
    scan: read_table applies an EXPLICIT schema (the schema-evolution
    mechanism), which must not cost predicate pushdown or column
    pruning — a filter on the snapshot reaches the scan's
    PushedFilters and a narrow projection narrows ReadSchema. Also
    pins that the delete path's directory-discovery filter itself
    pushes down (its driver result is dir-bounded only because the
    matching-row scan is)."""
    from pyspark.sql import functions as F

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("v"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
    )
    cl.create_table(spark, path, df, stats_cols=["k"])
    snap = cl.read_table(spark, path).filter(F.col("k") > 900).select("k", "v")
    p = _plan_df(snap)
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert pushed and any("GreaterThan(k,900" in l for l in pushed), (
        "filter must push into the commit-log scan:\n" + p)
    rs = [l for l in p.splitlines() if "ReadSchema" in l]
    assert rs and all("s:string" not in l for l in rs), (
        "projection must prune the unused string column:\n" + p)


def test_text_index_prunes_term_buckets(spark, sf_dir, tmp_path):
    """The postings index must serve a query by reading ONLY the query
    terms' hash-bucket partitions (PartitionFilters on _tb) with the
    term IN filter pushed into those scans — the qix-IVF mechanism
    applied to text search."""
    from sora_spark.catalog import tables
    from sora_spark.llm import textindex

    docs = tables(spark, sf_dir).documents
    path = str(tmp_path / "ti")
    textindex.write_text_index(docs, path, n_buckets=16)
    q = textindex.bm25_topk_indexed(spark, path, ["spark", "window"])
    p = _plan_df(q)
    part = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert any("_tb" in l and " IN " in l for l in part), (
        "query must prune term buckets:\n" + p)
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert any("In(term" in l for l in pushed), (
        "term IN must push into the bucket scans:\n" + p)

    # the vocabulary-sized _terms sidecar (r11 verdict item 2): written
    # PARTITIONED by the same _tb hash — a multi-task write, never a
    # coalesce(1) straggler — and the df lookup prunes to the query
    # terms' buckets exactly like the postings scan does
    import glob
    import os

    tb_dirs = glob.glob(os.path.join(glob.escape(path + "_terms"), "_tb=*"))
    assert len(tb_dirs) > 1, "_terms must be hash-partitioned"
    n_files = sum(
        len(glob.glob(os.path.join(glob.escape(d), "*.parquet")))
        for d in tb_dirs
    )
    assert n_files > 1, "_terms write must be multi-task"
    assert sum("_tb" in l and " IN " in l for l in part) >= 2, (
        "BOTH the postings and the _terms scans must prune buckets:\n" + p)


def test_commit_log_dv_read_splits_clean_dirty(spark, tmp_path):
    """r12: with a live deletion vector targeting ONE directory, the
    table read must split — the untouched directories' subtree scans
    with NO join at all (at 100 TB that's almost the whole table), and
    only the dirty directory anti-joins the vector sidecar."""
    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    mk = lambda lo: spark.range(lo, lo + 50).selectExpr(
        "id AS k", "CAST(id % 5 AS DOUBLE) AS p")
    cl.create_table(spark, path, mk(0), stats_cols=["k"])
    cl.append(spark, path, mk(100), stats_cols=["k"])
    cl.append(spark, path, mk(200), stats_cols=["k"])
    cl.delete_where(spark, path, "k = 205", deletion_vectors=True)

    # simple mode prints each node once (formatted repeats nodes in
    # the detail section), so node counts are meaningful
    plan = _plan_df(cl.read_table(spark, path), mode="simple")
    # exactly one anti-join (the dirty directory), not one per scan
    assert plan.count("LeftAnti") == 1, plan
    # the union stitches a join-free clean scan to the dirty branch
    assert "Union" in plan, plan
    # the clean branch reads the two untouched dirs: count parquet
    # scans of the table — 2 clean + 1 dirty + the DV sidecar
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) >= 2, plan
    # correctness alongside the shape
    got = {r[0] for r in cl.read_table(spark, path).collect()}
    assert 205 not in got and len(got) == 149


def test_bloom_screen_is_map_only(spark, sf_dir):
    """qcont4's corpus screen must be a pure projection — the filter
    rides as a literal, so the plan may contain NO join and no
    exchange besides the output sort."""
    p = _plan(spark, sf_dir, "qcont4_bloom_screen", mode="simple")
    assert "Join" not in p, p
    # exactly the one range exchange the output orderBy needs
    assert p.count("Exchange") <= 1, p


def test_filtered_knn_pushes_predicate_and_prunes(spark, sf_dir, tmp_path):
    """qix15's scale claim as a tested invariant: a filtered kNN's
    metadata predicate must land in the index scan's PushedFilters
    (row-group skipping INSIDE the probed lists) while the _cid
    PartitionFilters pruning keeps dropping non-probed lists at the
    file level — pre-filtering composes with partition pruning; a
    post-scan Filter-only plan would read every eligible row group."""
    import os

    from pyspark.sql import functions as F

    from sora_spark.catalog import tables
    from sora_spark.llm import ann

    emb = tables(spark, sf_dir).embeddings
    path = os.path.join(str(tmp_path), "ivf_f")
    ann.write_ivf_index(emb, path, n_centroids=8, iters=2)
    probes = emb.filter(F.col("vec_id") < 2)
    out = ann.ivf_topk_indexed(
        spark, path, probes, k=3, n_probe=2, where="label <> 7"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    pf = [
        l for l in plan.splitlines()
        if "PartitionFilters" in l and "_cid" in l
    ]
    assert pf, "corpus scan lost its _cid PartitionFilters:\n" + plan
    pushed = [
        l for l in plan.splitlines()
        if "PushedFilters" in l and "label" in l
    ]
    assert pushed, "metadata predicate not pushed to the scan:\n" + plan


def test_hybrid_rrf_fusion_broadcasts(spark, sf_dir, tmp_path):
    """qix14's fusion claim: the RRF join of two top-k candidate
    lists must never plan a shuffle-merge join — at least one side is
    k-row-bounded by contract, and the plan must broadcast it."""
    import os

    from pyspark.sql import functions as F

    from sora_spark.catalog import tables
    from sora_spark.llm import ann, hybrid, textindex

    t = tables(spark, sf_dir)
    tpath = os.path.join(str(tmp_path), "ti")
    vpath = os.path.join(str(tmp_path), "vi")
    textindex.write_text_index(t.documents, tpath, n_buckets=4)
    ann.write_ivf_index(t.embeddings, vpath, n_centroids=4, iters=1)
    text_hits = textindex.bm25_topk_indexed(
        spark, tpath, ["spark"], top_k=10)
    vec_hits = ann.ivf_topk_indexed(
        spark, vpath, t.embeddings.filter(F.col("vec_id") == 0),
        k=10, n_probe=4)
    out = hybrid.rrf_fuse(text_hits, vec_hits)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin FullOuter" not in plan, (
        "RRF fusion planned a shuffle-merge full-outer over two "
        "k-row lists:\n" + plan
    )
