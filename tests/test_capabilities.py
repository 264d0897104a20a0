"""Capability rows outside the hash set (SURVEY §5.3/§5.4): approx
aggregates under tolerance, seeded sampling, map functions, decimal /
interval types, UDTF, FASTA text source, foreachBatch sink.
"""

from __future__ import annotations

import math
import os
from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F

from sora_spark.catalog import tables
from sora_spark.sources.text import read_fasta


def test_approx_count_distinct_tolerance(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    exact = li.select(F.countDistinct("l_partkey")).collect()[0][0]
    approx = li.select(F.approx_count_distinct("l_partkey")).collect()[0][0]
    assert abs(approx - exact) / exact <= 0.05


def test_percentile_approx_tolerance(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    exact = li.select(F.percentile("l_quantity", 0.5)).collect()[0][0]
    approx = li.select(
        F.percentile_approx("l_quantity", 0.5, 10000)
    ).collect()[0][0]
    assert abs(approx - exact) <= 1.0  # quantity domain is 1..50


def test_sampling(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    n = li.count()
    frac = 0.1
    # NOTE (probed on PySpark 4.1.2): re-evaluating the SAME sample plan
    # is deterministic, but two freshly-built sample(…, seed=42) plans
    # can differ — so determinism is asserted per-plan only.
    s = li.sample(frac, seed=42)
    c1, c2 = s.count(), s.count()
    assert c1 == c2, "re-evaluating one sample plan must be deterministic"
    sigma = math.sqrt(n * frac * (1 - frac))
    assert abs(c1 - n * frac) <= 4 * sigma


def test_map_functions(spark):
    df = spark.sql(
        "SELECT map('a', 1, 'b', 2) AS m"
    ).select(
        F.map_keys("m").alias("ks"),
        F.map_values("m").alias("vs"),
        F.element_at("m", "b").alias("b"),
    )
    row = df.collect()[0]
    assert sorted(row["ks"]) == ["a", "b"]
    assert sorted(row["vs"]) == [1, 2]
    assert row["b"] == 2


def test_decimal_and_interval(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem.limit(100)
    dec = li.select(
        (F.col("l_extendedprice").cast("decimal(12,2)") * 2).alias("d")
    ).collect()
    assert all(r["d"] is not None for r in dec)
    iv = li.select(
        (F.col("l_shipdate") + F.expr("INTERVAL '3' DAY")).alias("later"),
        "l_shipdate",
    ).collect()
    assert all((r["later"] - r["l_shipdate"]).days == 3 for r in iv)


def test_python_udtf(spark):
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, n: int")
    class Splitter:
        def eval(self, text: str):
            for w in text.split(" "):
                yield w, len(w)

    spark.udtf.register("splitter", Splitter)
    rows = spark.sql(
        "SELECT * FROM splitter('spark graft engine')"
    ).collect()
    assert [(r["word"], r["n"]) for r in rows] == [
        ("spark", 5), ("graft", 5), ("engine", 6),
    ]


def test_fasta_source(spark, tmp_path):
    path = str(tmp_path / "fasta.txt")
    with open(path, "w") as f:
        f.write(">read1 desc\nACGT\nTTAA\n>read2\nGGCC\n")
    recs = {
        r["header"]: r["sequence"] for r in read_fasta(spark, path).collect()
    }
    assert recs == {"read1 desc": "ACGTTTAA", "read2": "GGCC"}


def test_partitioned_parquet_sink_and_pruning(spark, sf_dir, tmp_path):
    """Hive-partitioned parquet write + partition pruning on read —
    the layout SCALE.md prescribes for 100 TB date-keyed facts."""
    import contextlib
    import io

    from sora_spark.catalog import tables as _tables

    li = _tables(spark, sf_dir).lineitem
    path = str(tmp_path / "part")
    li.write.partitionBy("l_returnflag").mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == li.count()
    pruned = back.filter(F.col("l_returnflag") == "A")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "l_returnflag" in pf[0], (
        "filter on the partition column must prune partitions:\n" + plan
    )
    want = li.filter(F.col("l_returnflag") == "A").count()
    assert pruned.count() == want


def test_foreach_batch_sink(spark, sf_dir):
    from sora_spark.streaming import ops, replay

    d = replay.materialize_replay_dir(spark, sf_dir, "feb", n_files=3)
    stream = ops.tumbling_counts(replay.events_stream(spark, d))
    seen: list[int] = []

    def sink(batch_df, batch_id: int):
        seen.append(batch_df.count())

    q = stream.writeStream.outputMode("complete").foreachBatch(sink).start()
    want = (
        tables(spark, sf_dir).events
        .select(F.date_trunc("hour", "ts"), "event_type")
        .distinct()
        .count()
    )
    try:
        q.processAllAvailable()
        if not seen or seen[-1] != want:
            # under heavy concurrent load the first drain has been
            # observed returning before the last file's batch landed
            # (one-off full-suite flake, passes in isolation) — a
            # second drain is cheap and settles it deterministically
            q.processAllAvailable()
    finally:
        q.stop()
    assert seen, "foreachBatch never invoked"
    assert seen[-1] == want


def test_asof_join_operator(spark):
    """trades (left, with payload col) x quotes (right, non-monotone px):
    each trade gets the latest strictly-earlier quote px — catches side
    inversion, max-vs-last, and left-only-column resolution."""
    from sora_spark.operators.asof import asof_join

    trades = spark.createDataFrame(
        [(1, 10, 100, "buy"), (1, 20, 101, "sell"), (2, 15, 102, "buy"),
         (1, 5, 103, "buy")],
        "sym INT, t INT, seq INT, side STRING",
    )
    quotes = spark.createDataFrame(
        [(1, 8, 200, 99.0), (1, 12, 201, 95.0), (1, 20, 202, 97.0),
         (2, 15, 203, 50.0)],
        "sym INT, t INT, seq INT, px DOUBLE",
    )
    out = asof_join(
        trades, quotes, key="sym", time_col="t", tiebreak_col="seq",
        right_value_col="px", out_col="asof_px",
    )
    rows = {(r["sym"], r["t"], r["seq"]): (r["asof_px"], r["side"])
            for r in out.collect()}
    assert len(rows) == 4, "output must be the LEFT (trades) side"
    assert rows[(1, 5, 103)] == (None, "buy")       # no earlier quote
    assert rows[(1, 10, 100)] == (99.0, "buy")      # t=8 quote
    # latest earlier is px=95 (t=12), NOT max(99,95) — catches max-vs-last
    assert rows[(1, 20, 101)] == (95.0, "sell")     # t=20 quote excluded (not strict)
    # equal-time quote is NOT strictly earlier
    assert rows[(2, 15, 102)] == (None, "buy")


def test_compact_parquet_small_files(spark, sf_dir, tmp_path):
    """200 tiny files -> a handful of target-sized files with identical
    content — the small-file maintenance op streaming ingestion needs."""
    from sora_spark.sources.maintenance import compact_parquet

    li = tables(spark, sf_dir).lineitem
    path = str(tmp_path / "compact")
    li.repartition(200).write.mode("overwrite").parquet(path)
    before_rows = spark.read.parquet(path).count()
    stats = compact_parquet(spark, path, target_file_bytes=512 * 1024)
    assert stats["files_before"] == 200
    assert stats["files_after"] < 20
    back = spark.read.parquet(path)
    assert back.count() == before_rows == li.count()
    assert sorted(back.columns) == sorted(li.columns)


def test_streaming_upsert_sink_latest_per_key(spark, sf_dir, tmp_path):
    """foreachBatch merge sink: after draining the replay, the table
    holds exactly the latest event per (user_id, event_type)."""
    import os

    from pyspark.sql.window import Window

    from sora_spark.streaming import replay, upsert

    d = replay.materialize_replay_dir(spark, sf_dir, "ups", n_files=4)
    base = str(tmp_path / "upsert")
    table, ckpt = f"{base}/table", f"{base}/ckpt"
    os.makedirs(base, exist_ok=True)
    q = upsert.upsert_sink(
        replay.events_stream(spark, d), table, ckpt,
        key_cols=["user_id", "event_type"], ts_col="ts",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(table)
    ev = replay.read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    want = ev.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    assert got.count() == want.count()
    # latest ts per key must agree (event_id tiebreak differs only if
    # two events share a key AND a timestamp; compare on ts)
    g = sorted(map(tuple, got.select("user_id", "event_type", "ts").collect()))
    e = sorted(map(tuple, want.select("user_id", "event_type", "ts").collect()))
    assert g == e


def test_resample_and_gap_fill(spark, sf_dir):
    """Hourly resample of events per user, then dense-grid gap fill:
    no holes, values forward-filled, original buckets preserved."""
    from sora_spark.operators.timeseries import fill_gaps, resample
    from sora_spark.streaming.replay import read_table

    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    b = resample(ev, "user_id", "ts", "1 hour",
                 [F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v")])
    filled = fill_gaps(b, "user_id", "bucket", "1 hour", ["n", "v"])

    # dense: per key, rows == hours between first and last bucket + 1
    spans = (
        filled.groupBy("user_id")
        .agg(
            F.count("*").alias("rows"),
            (
                (F.unix_timestamp(F.max("bucket"))
                 - F.unix_timestamp(F.min("bucket"))) / 3600 + 1
            ).cast("long").alias("expect"),
        )
    )
    assert spans.filter(F.col("rows") != F.col("expect")).count() == 0
    # original buckets intact
    orig = b.count()
    assert filled.filter(F.col("_present")).count() == orig
    assert filled.count() >= orig
    # forward fill leaves no NULLs (every key's grid starts at a
    # present bucket by construction)
    assert filled.filter(F.col("v").isNull() | F.col("n").isNull()).count() == 0


def test_pandas_udf_iterator_form(spark, sf_dir):
    """SCALAR_ITER pandas UDF (Iterator[pd.Series] -> Iterator[pd.Series]):
    amortizes per-batch init (model loads, dictionaries) across Arrow
    batches — the shape for expensive-setup UDFs at scale. Must equal
    the plain column expression."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def disc_price(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        factor = 1.0  # stands in for per-worker init
        for s in it:
            yield s * factor * 2.0

    li = tables(spark, sf_dir).lineitem.limit(500)
    got = li.select(
        F.round(disc_price("l_extendedprice"), 2).alias("x"), "l_orderkey",
        "l_linenumber",
    )
    want = li.select(
        F.round(F.col("l_extendedprice") * 2.0, 2).alias("x"), "l_orderkey",
        "l_linenumber",
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_count_min_sketch_frequent_items(spark, sf_dir):
    """count_min_sketch + freqItems: approximate heavy hitters over the
    wordcount stream — sketch estimates must over-count only (CMS
    guarantee) and stay within eps*N of exact."""
    from pyspark.sql.functions import count_min_sketch

    docs = tables(spark, sf_dir).documents
    words = docs.select(F.explode(F.split("text", " ")).alias("w"))
    n_total = words.count()
    exact = {r["w"]: r["c"] for r in
             words.groupBy("w").agg(F.count("*").alias("c")).collect()}
    top = sorted(exact, key=exact.get, reverse=True)[:5]

    import pyspark
    sk = words.agg(
        F.hex(count_min_sketch("w", F.lit(0.001), F.lit(0.99), F.lit(1))).alias("sk")
    ).collect()[0]["sk"]
    # estimate via the JVM CountMinSketch (deserialize the sketch bytes)
    jvm = spark.sparkContext._jvm
    import base64
    ba = bytes.fromhex(sk)
    bis = jvm.java.io.ByteArrayInputStream(ba)
    cms = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bis)
    for w in top:
        est = cms.estimateCount(w)
        assert est >= exact[w], "CMS must never under-count"
        assert est - exact[w] <= 0.001 * n_total * 2 + 5

    fi = words.stat.freqItems(["w"], 0.01).collect()[0][0]
    assert set(top) <= set(fi), "freqItems must contain the true top-5"


def test_corrupt_json_ingestion_modes(spark, tmp_path):
    """Real-world ingestion robustness: PERMISSIVE mode quarantines bad
    JSON lines in _corrupt_record; DROPMALFORMED silently drops them;
    FAILFAST raises. All three contracts pinned."""
    import pytest

    path = str(tmp_path / "badjson.jsonl")
    with open(path, "w") as f:
        f.write('{"k": 1, "v": "a"}\n')
        f.write('NOT JSON AT ALL\n')
        f.write('{"k": 2, "v": "b"}\n')
    schema = "k INT, v STRING, _corrupt_record STRING"

    perm = spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)
    rows = perm.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(bad) == 1 and bad[0]["k"] is None

    dropped = (
        spark.read.schema("k INT, v STRING")
        .option("mode", "DROPMALFORMED").json(path)
    )
    assert sorted(r["k"] for r in dropped.collect()) == [1, 2]

    with pytest.raises(Exception):
        spark.read.schema("k INT, v STRING").option(
            "mode", "FAILFAST"
        ).json(path).collect()


def test_stratified_sampling(spark, sf_dir):
    """sampleBy: per-stratum fractions honored within binomial noise;
    unlisted strata excluded entirely."""
    orders = tables(spark, sf_dir).orders
    fracs = {"1-URGENT": 0.5, "5-LOW": 0.1}
    s = orders.sampleBy("o_orderpriority", fractions=fracs, seed=11)
    got = {r["o_orderpriority"]: r["n"] for r in
           s.groupBy("o_orderpriority").agg(F.count("*").alias("n")).collect()}
    base = {r["o_orderpriority"]: r["n"] for r in
            orders.groupBy("o_orderpriority").agg(F.count("*").alias("n")).collect()}
    assert set(got) <= set(fracs), "unlisted strata must be excluded"
    for k, frac in fracs.items():
        n, exp = got.get(k, 0), base[k] * frac
        sigma = math.sqrt(base[k] * frac * (1 - frac))
        assert abs(n - exp) <= 4 * sigma, (k, n, exp)


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """mergeSchema: files written with different column sets read as a
    unioned schema with NULLs for absent columns — the additive schema
    evolution contract partitioned long-lived tables rely on."""
    path = str(tmp_path / "evolve")
    spark.createDataFrame([(1, "a")], "id LONG, v1 STRING").write.parquet(
        path + "/p=1"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id LONG, v1 STRING, v2 DOUBLE"
    ).write.parquet(path + "/p=2")
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert sorted(merged.columns) == ["id", "p", "v1", "v2"]
    rows = {r["id"]: (r["v1"], r["v2"]) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_quantile_discretize(spark, sf_dir):
    """4-bucket discretization of l_extendedprice: buckets are
    monotone in the value, masses within 10% of equal, NULLs preserved."""
    from sora_spark.operators.discretize import quantile_discretize

    li = tables(spark, sf_dir).lineitem
    out, bounds = quantile_discretize(li, "l_extendedprice", n_buckets=4)
    assert len(bounds) == 3 and bounds == sorted(bounds)
    n = li.count()
    counts = {r["l_extendedprice_bucket"]: r["c"] for r in
              out.groupBy("l_extendedprice_bucket").agg(F.count("*").alias("c")).collect()}
    assert set(counts) == {0, 1, 2, 3}
    for b, c in counts.items():
        assert abs(c - n / 4) <= 0.1 * n, (b, c)
    # monotone: max value in bucket i < min value in bucket i+1
    stats = {r["l_extendedprice_bucket"]: (r["lo"], r["hi"]) for r in
             out.groupBy("l_extendedprice_bucket")
             .agg(F.min("l_extendedprice").alias("lo"),
                  F.max("l_extendedprice").alias("hi")).collect()}
    for i in range(3):
        assert stats[i][1] <= stats[i + 1][0]


def test_snapshot_diff(spark):
    """CDC diff: added/removed/changed detected; unchanged omitted;
    NULL payloads distinguished from the string 'NULL'."""
    from sora_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0), (4, None, 4.0)],
        "id LONG, v STRING, x DOUBLE",
    )
    new = spark.createDataFrame(
        [(2, "b", 2.0), (3, "CHANGED", 3.0), (4, "NULL", 4.0), (5, "e", 5.0)],
        "id LONG, v STRING, x DOUBLE",
    )
    got = {r["id"]: r["change"] for r in
           snapshot_diff(old, new, ["id"]).collect()}
    assert got == {1: "removed", 3: "changed", 4: "changed", 5: "added"}


def test_cogroup_apply_in_pandas(spark, sf_dir):
    """Cogrouped pandas UDF: per-key merge of two frames (orders x
    customer) must equal the equivalent join+agg — the UDF surface for
    custom two-sided per-key logic."""
    t = tables(spark, sf_dir)
    orders = t.orders.select("o_custkey", "o_totalprice").filter(
        F.col("o_custkey") < 200
    )
    cust = t.customer.select("c_custkey", "c_acctbal").filter(
        F.col("c_custkey") < 200
    )

    def merge(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        bal = float(right["c_acctbal"].iloc[0]) if len(right) else None
        return pd.DataFrame(
            {
                "custkey": [key[0]],
                "n_orders": [len(left)],
                "total": [round(float(left["o_totalprice"].sum()), 2)],
                "acctbal": [bal],
            }
        )

    got = (
        orders.groupBy("o_custkey")
        .cogroup(cust.groupBy("c_custkey"))
        .applyInPandas(
            merge,
            "custkey LONG, n_orders LONG, total DOUBLE, acctbal DOUBLE",
        )
        .filter(F.col("n_orders") > 0)
    )
    want = (
        orders.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "left")
        .select(
            F.col("o_custkey").alias("custkey"), "n_orders", "total",
            F.col("c_acctbal").alias("acctbal"),
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_observe_metrics(spark, sf_dir):
    """df.observe: pipeline-side accounting metrics collected during
    the action with zero extra passes."""
    from pyspark.sql import Observation

    obs = Observation("acct")
    li = tables(spark, sf_dir).lineitem
    out = li.observe(
        obs, F.count(F.lit(1)).alias("rows"),
        F.sum("l_quantity").alias("qty"),
    ).filter(F.col("l_quantity") > 10)
    n_filtered = out.count()
    assert obs.get["rows"] == li.count()
    assert obs.get["rows"] >= n_filtered
    assert abs(obs.get["qty"] - li.agg(F.sum("l_quantity")).first()[0]) < 1e-6


def test_explode_outer_and_inline(spark):
    """explode_outer keeps empty/NULL-array rows (NULL element);
    inline expands struct arrays to columns — both common flattening
    surfaces."""
    df = spark.createDataFrame(
        [(1, [10, 20]), (2, []), (3, None)],
        "id LONG, xs ARRAY<INT>",
    )
    got = sorted(
        (r["id"], r["x"]) for r in
        df.select("id", F.explode_outer("xs").alias("x")).collect()
    )
    assert got == [(1, 10), (1, 20), (2, None), (3, None)]
    plain = sorted(
        (r["id"], r["x"]) for r in
        df.select("id", F.explode("xs").alias("x")).collect()
    )
    assert plain == [(1, 10), (1, 20)], "plain explode drops empty rows"

    sdf = spark.sql(
        "SELECT inline(array(struct(1, 'x'), struct(2, 'y')))"
    )
    assert sorted(map(tuple, sdf.collect())) == [(1, "x"), (2, "y")]


def test_fasta_custom_datasource(spark, tmp_path):
    """The Python DataSource API form of the FASTA reader: one input
    partition per file (reads parallelize across files), same records
    as the DataFrame-parse path."""
    from sora_spark.sources.fasta_datasource import register

    d = str(tmp_path / "fastads")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "a.fa"), "w") as f:
        f.write(">r1 first\nACGT\nTT\n>r2\nGG\n")
    with open(os.path.join(d, "b.fa"), "w") as f:
        f.write(">r3\nCCCC\n")
    register(spark)
    df = spark.read.format("fasta").load(d)
    rows = {(r["header"], r["sequence"]) for r in df.collect()}
    assert rows == {("r1 first", "ACGTTT"), ("r2", "GG"), ("r3", "CCCC")}
    assert df.rdd.getNumPartitions() == 2, "one partition per file"
    # file keys use the same URI form as input_file_name(), so the two
    # FASTA paths join/union cleanly
    files = {r["file"] for r in df.select("file").distinct().collect()}
    assert all(f.startswith("file://") for f in files), files
    # engine-parse path agrees
    recs = {(r["header"], r["sequence"]) for r in read_fasta(spark, d).collect()}
    assert recs == rows


def test_bitwise_and_boolean_aggregates(spark):
    df = spark.createDataFrame(
        [(1, 0b1100, True), (1, 0b1010, True), (2, 0b0011, False),
         (2, 0b0110, True)],
        "g LONG, x LONG, b BOOLEAN",
    )
    rows = {r["g"]: r for r in
            df.groupBy("g").agg(
                F.bit_and("x").alias("band"), F.bit_or("x").alias("bor"),
                F.bit_xor("x").alias("bxor"),
                F.bool_and("b").alias("ball"), F.bool_or("b").alias("bany"),
            ).collect()}
    assert (rows[1]["band"], rows[1]["bor"], rows[1]["bxor"]) == (0b1000, 0b1110, 0b0110)
    assert (rows[1]["ball"], rows[1]["bany"]) == (True, True)
    assert (rows[2]["ball"], rows[2]["bany"]) == (False, True)


def test_array_set_functions(spark):
    r = spark.sql(
        "SELECT array_union(array(1,2,3), array(3,4)) AS u, "
        "array_intersect(array(1,2,3), array(2,3,4)) AS i, "
        "array_except(array(1,2,3), array(2)) AS e, "
        "arrays_zip(array(1,2), array('a','b')) AS z, "
        "arrays_overlap(array(1,2), array(2,9)) AS o"
    ).collect()[0]
    assert sorted(r["u"]) == [1, 2, 3, 4]
    assert sorted(r["i"]) == [2, 3]
    assert sorted(r["e"]) == [1, 3]
    assert [(x["0"], x["1"]) for x in r["z"]] == [(1, "a"), (2, "b")]
    assert r["o"] is True


def test_map_builders(spark):
    r = spark.sql(
        "SELECT str_to_map('a:1,b:2', ',', ':') AS m, "
        "map_from_entries(array(struct('k', 10), struct('l', 20))) AS me, "
        "map_concat(map('x', 1), map('y', 2)) AS mc"
    ).collect()[0]
    assert r["m"] == {"a": "1", "b": "2"}
    assert r["me"] == {"k": 10, "l": 20}
    assert r["mc"] == {"x": 1, "y": 2}


def test_regex_family(spark):
    df = spark.createDataFrame([("a1 b22 c333",)], "s STRING")
    r = df.select(
        F.regexp_extract_all("s", F.lit(r"[a-z]([0-9]+)"), 1).alias("nums"),
        F.col("s").rlike(r"b[0-9]+").alias("has_b"),
        F.split("s", " ", 2).alias("two"),
    ).collect()[0]
    assert r["nums"] == ["1", "22", "333"]
    assert r["has_b"] is True
    assert r["two"] == ["a1", "b22 c333"]


def test_filter_clause_aggregates(spark, sf_dir):
    """SQL FILTER (WHERE ...) aggregates — the standard conditional
    aggregation surface; must equal the CASE WHEN desugaring."""
    tables(spark, sf_dir).register_views()
    got = spark.sql(
        "SELECT l_returnflag, "
        "  count(*) FILTER (WHERE l_quantity > 25) AS n_big, "
        "  round(sum(l_extendedprice) FILTER (WHERE l_linestatus = 'F'), 2)"
        "    AS sum_f "
        "FROM lineitem GROUP BY l_returnflag"
    )
    want = spark.sql(
        "SELECT l_returnflag, "
        "  count(CASE WHEN l_quantity > 25 THEN 1 END) AS n_big, "
        "  round(sum(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END), 2)"
        "    AS sum_f "
        "FROM lineitem GROUP BY l_returnflag"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_fuzzy_join(spark):
    """q-gram blocked edit-distance join: typo'd names match within
    the bound, unrelated names never surface, distances exact."""
    from sora_spark.operators.fuzzy import fuzzy_join

    cat = spark.createDataFrame(
        [("widget alpha",), ("gadget beta",), ("sprocket gamma",)],
        "name STRING",
    )
    dirty = spark.createDataFrame(
        [("widgot alpha",), ("gadget betas",), ("unrelated thing",)],
        "q STRING",
    )
    out = {(r["name"], r["q_r"]): r["distance"] for r in
           fuzzy_join(cat, dirty, "name", "q", max_distance=2).collect()}
    assert out == {
        ("widget alpha", "widgot alpha"): 1,
        ("gadget beta", "gadget betas"): 1,
    }


def test_interval_join_matches_theta_join(spark):
    """Binned interval join == the naive theta join on overlap, across
    bin boundaries and multi-bin spans; per-key blocking respected."""
    from sora_spark.operators.interval import interval_join

    left = spark.createDataFrame(
        [("c1", 100, 250, "L1"), ("c1", 900, 1100, "L2"),
         ("c2", 100, 250, "L3"), ("c1", 5000, 5010, "L4")],
        "chrom STRING, start LONG, end LONG, lname STRING",
    )
    right = spark.createDataFrame(
        [("c1", 200, 300, "R1"), ("c1", 1050, 2100, "R2"),
         ("c2", 240, 260, "R3"), ("c1", 240, 900, "R4")],
        "chrom STRING, start LONG, end LONG, rname STRING",
    )
    got = {(r["lname"], r["rname_r"]) for r in
           interval_join(left, right, key="chrom", bin_size=256).collect()}
    naive = left.alias("a").join(
        right.alias("b"),
        (F.col("a.chrom") == F.col("b.chrom"))
        & (F.col("a.start") < F.col("b.end"))
        & (F.col("b.start") < F.col("a.end")),
    )
    want = {(r["lname"], r["rname"]) for r in naive.collect()}
    assert got == want
    assert ("L1", "R1") in got and ("L2", "R2") in got
    assert ("L3", "R3") in got and ("L1", "R3") not in got


def test_persist_storage_levels(spark, sf_dir):
    """persist/unpersist surface: cached plan reuses materialized data
    (is_cached flag + identical results), DISK_ONLY accepted."""
    from pyspark import StorageLevel

    li = tables(spark, sf_dir).lineitem.filter(F.col("l_quantity") > 45)
    cached = li.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n1 = cached.count()
        assert cached.is_cached
        assert cached.count() == n1
    finally:
        cached.unpersist(blocking=True)
    assert not cached.is_cached
    disk = li.persist(StorageLevel.DISK_ONLY)
    try:
        assert disk.count() == n1
    finally:
        disk.unpersist(blocking=True)


def test_topk_per_group_combiner_matches_window(spark, sf_dir):
    """Map-side partial top-k must equal the plain window top-k exactly
    (unique total order via the orderkey/linenumber tiebreak)."""
    from pyspark.sql.window import Window

    from sora_spark.operators.topk import topk_per_group

    li = tables(spark, sf_dir).lineitem
    got = topk_per_group(
        li, ["l_returnflag"], "l_extendedprice", 5,
        tiebreak_cols=["l_orderkey", "l_linenumber"],
    ).select("l_returnflag", "rn", "l_orderkey", "l_linenumber")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), "l_orderkey", "l_linenumber"
    )
    want = (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("l_returnflag", "rn", "l_orderkey", "l_linenumber")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_pandas_udf_array_in_array_out(spark, sf_dir):
    """Arrow-batched pandas UDF over array<float> columns (embedding
    transforms): L2-normalize in Python, verify against the JVM-side
    aggregate expression."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def l2_normalize(s: pd.Series) -> pd.Series:
        import numpy as np

        def norm(v):
            a = np.asarray(v, dtype="float64")
            n = np.linalg.norm(a)
            return (a / n).tolist() if n else a.tolist()

        return s.map(norm)

    emb = tables(spark, sf_dir).embeddings.limit(50)
    out = emb.select("vec_id", l2_normalize("embedding").alias("nv"))
    norms = out.select(
        "vec_id",
        F.round(
            F.sqrt(F.aggregate("nv", F.lit(0.0), lambda a, x: a + x * x)), 6
        ).alias("n"),
    )
    assert all(r["n"] == 1.0 for r in norms.collect())


def test_csv_dialect_robustness(spark, tmp_path):
    """Quoted fields with embedded delimiters/newlines, custom escape,
    and dateFormat parsing — the ingestion dialect surface."""
    path = str(tmp_path / "csvdialect.csv")
    with open(path, "w") as f:
        f.write('id|name|when\n')
        f.write('1|"has|pipe"|2024-01-15\n')
        f.write('2|"multi\nline"|2024-02-20\n')
        f.write('3|plain|2024-03-25\n')
    df = (
        spark.read.option("header", "true").option("sep", "|")
        .option("multiLine", "true").option("dateFormat", "yyyy-MM-dd")
        .schema("id INT, name STRING, when DATE")
        .csv(path)
    )
    rows = {r["id"]: (r["name"], str(r["when"])) for r in df.collect()}
    assert rows == {
        1: ("has|pipe", "2024-01-15"),
        2: ("multi\nline", "2024-02-20"),
        3: ("plain", "2024-03-25"),
    }


def test_max_records_per_file(spark, sf_dir, tmp_path):
    """maxRecordsPerFile caps output file size by row count — the
    writer knob that bounds downstream task granularity."""
    li = tables(spark, sf_dir).lineitem
    n = li.count()
    path = str(tmp_path / "maxrec")
    li.coalesce(1).write.option("maxRecordsPerFile", 1000).mode(
        "overwrite"
    ).parquet(path)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) >= n // 1000, (len(files), n)
    assert spark.read.parquet(path).count() == n


def test_asof_join_tolerance(spark):
    """merge_asof-style tolerance: matches staler than the bound go
    NULL; in-bound matches unchanged."""
    from sora_spark.operators.asof import asof_join

    trades = spark.createDataFrame(
        [(1, 100, 1, "a"), (1, 200, 2, "b")],
        "sym INT, t INT, seq INT, tag STRING",
    )
    quotes = spark.createDataFrame(
        [(1, 95, 10, 9.0), (1, 120, 11, 8.0)],
        "sym INT, t INT, seq INT, px DOUBLE",
    )
    out = asof_join(
        trades, quotes, key="sym", time_col="t", tiebreak_col="seq",
        right_value_col="px", out_col="apx", tolerance=10,
    )
    rows = {r["seq"]: r["apx"] for r in out.collect()}
    # t=100: latest earlier quote at t=95 (age 5 <= 10) -> 9.0
    # t=200: latest earlier at t=120 (age 80 > 10) -> NULL
    assert rows == {1: 9.0, 2: None}


def test_snapshot_diff_null_position_swap(spark):
    """(NULL,'x') -> ('x',NULL) must be detected as changed (Spark's
    hash skips null children; the explicit null flags prevent the
    collision); key-only tables diff without error."""
    from sora_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame([(1, None, "x")], "id LONG, a STRING, b STRING")
    new = spark.createDataFrame([(1, "x", None)], "id LONG, a STRING, b STRING")
    got = {(r["id"], r["change"]) for r in
           snapshot_diff(old, new, ["id"]).collect()}
    assert got == {(1, "changed")}

    ko = spark.createDataFrame([(1,), (2,)], "id LONG")
    kn = spark.createDataFrame([(2,), (3,)], "id LONG")
    kd = {(r["id"], r["change"]) for r in
          snapshot_diff(ko, kn, ["id"]).collect()}
    assert kd == {(1, "removed"), (3, "added")}


def test_snapshot_diff_null_key(spark):
    """A NULL inside the key tuple matches null-safely: the row diffs
    as changed/unchanged instead of surfacing as added + removed."""
    from sora_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(None, "us", 1.0), (2, "eu", 5.0)],
        "id LONG, region STRING, v DOUBLE",
    )
    new = spark.createDataFrame(
        [(None, "us", 9.0), (2, "eu", 5.0)],
        "id LONG, region STRING, v DOUBLE",
    )
    got = {(r["id"], r["region"], r["change"]) for r in
           snapshot_diff(old, new, ["id", "region"]).collect()}
    assert got == {(None, "us", "changed")}


def test_fuzzy_join_short_strings(spark):
    """Strings shorter than q still pair across lengths ('ab'~'abc',
    'ab'~'bb') via the dedicated short bucket; recall stays exact for
    every pair with a sub-q side."""
    from sora_spark.operators.fuzzy import fuzzy_join

    left = spark.createDataFrame([("ab",), ("zz",)], "name STRING")
    right = spark.createDataFrame(
        [("abc",), ("bb",), ("unrelated thing",)], "q STRING"
    )
    out = {(r["name"], r["q_r"]): r["distance"] for r in
           fuzzy_join(left, right, "name", "q",
                      max_distance=1, q=3).collect()}
    assert out == {("ab", "abc"): 1, ("ab", "bb"): 1}


def test_fuzzy_join_mid_length_below_gram_bound(spark):
    """Pairs whose shorter side sits in [q, q(d+1)) can have DISJOINT
    q-gram sets at distance d ('abcd'~'abxcd', 'abc'~'abxc'); the
    short bucket's q(d+1)+d cutoff must recall them (round-3 review
    finding)."""
    from sora_spark.operators.fuzzy import fuzzy_join

    left = spark.createDataFrame([("abc",), ("abcd",)], "name STRING")
    right = spark.createDataFrame(
        [("abxc",), ("abxcd",), ("completely different",)], "q STRING"
    )
    out = {(r["name"], r["q_r"]): r["distance"] for r in
           fuzzy_join(left, right, "name", "q",
                      max_distance=1, q=3).collect()}
    assert out == {("abc", "abxc"): 1, ("abcd", "abxcd"): 1}


def test_topk_combiner_null_group_and_order(spark):
    """NULL group keys survive the pandas partial pass; ascending
    order ranks NULL order-values first (Spark NULLS FIRST)."""
    from sora_spark.operators.topk import topk_per_group

    df = spark.createDataFrame(
        [("a", 5.0, 1), ("a", 7.0, 2), (None, 3.0, 3), (None, 9.0, 4),
         ("a", None, 5)],
        "g STRING, v DOUBLE, id LONG",
    )
    out = topk_per_group(df, ["g"], "v", 1, tiebreak_cols=["id"],
                         descending=False)
    rows = {r["g"]: (r["v"], r["id"]) for r in out.collect()}
    # asc => NULLS FIRST: group 'a' top-1 is the NULL-v row
    assert rows["a"] == (None, 5)
    assert rows[None] == (3.0, 3)


def test_variant_semistructured(spark, sf_dir):
    """VARIANT type (Spark 4): parse_json over events.props with typed
    variant_get extraction — must equal the get_json_object path."""
    tables(spark, sf_dir).register_views()
    got = spark.sql(
        "SELECT sum(variant_get(parse_json(props), '$.k', 'int')) AS s "
        "FROM events"
    ).first()["s"]
    want = spark.sql(
        "SELECT sum(CAST(get_json_object(props, '$.k') AS INT)) AS s "
        "FROM events"
    ).first()["s"]
    assert got == want is not None


def test_lateral_subquery(spark, sf_dir):
    """Correlated LATERAL subquery: per-row derived relation joined
    back — must equal the window formulation."""
    tables(spark, sf_dir).register_views()
    got = spark.sql("""
        SELECT c.c_custkey, l.total
        FROM customer c,
        LATERAL (SELECT round(sum(o_totalprice), 2) AS total
                 FROM orders o WHERE o.o_custkey = c.c_custkey) AS l
        WHERE c.c_custkey < 100 AND l.total IS NOT NULL
        ORDER BY c.c_custkey
    """)
    want = spark.sql("""
        SELECT o_custkey AS c_custkey, round(sum(o_totalprice), 2) AS total
        FROM orders WHERE o_custkey < 100 GROUP BY o_custkey
        ORDER BY c_custkey
    """)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_recursive_cte_reachability_matches_bfs(spark):
    """WITH RECURSIVE (Spark 4) reachability over a small digraph must
    equal the engine's iterative bfs_hops — the SQL surface and the
    driver-loop engine agree on a fixpoint computation."""
    from sora_spark.graph import Graph

    edges = [(1, 2), (2, 3), (3, 4), (2, 5), (9, 1)]
    e = spark.createDataFrame(edges, "s LONG, d LONG")
    e.createOrReplaceTempView("edges_rc")
    want = {(r["v"], r["hop"]) for r in
            Graph(e).bfs_hops(spark.createDataFrame([(1,)], "v LONG"),
                              max_hops=6).collect()}
    got_rows = spark.sql("""
        WITH RECURSIVE reach(v, hop) AS (
          SELECT CAST(1 AS BIGINT), 0
          UNION ALL
          SELECT CASE WHEN e.s = r.v THEN e.d ELSE e.s END, r.hop + 1
          FROM reach r JOIN edges_rc e ON e.s = r.v OR e.d = r.v
          WHERE r.hop < 6
        )
        SELECT v, CAST(min(hop) AS INT) AS hop FROM reach GROUP BY v
    """).collect()
    got = {(r["v"], r["hop"]) for r in got_rows}
    assert got == want


def test_cli_list_and_inventory():
    """python -m sora_spark list/inventory run registry-only (no Spark
    session) and emit well-formed output."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-m", "sora_spark", "list"],
        capture_output=True, text=True, cwd=root, timeout=120,
    )
    assert out.returncode == 0
    lines = out.stdout.strip().splitlines()
    assert len(lines) >= 100
    assert any("qa1_pricing_summary" in l for l in lines)

    inv = subprocess.run(
        [sys.executable, "-m", "sora_spark", "inventory"],
        capture_output=True, text=True, cwd=root, timeout=120,
    )
    assert inv.returncode == 0
    all_lines = inv.stdout.strip().splitlines()
    # preamble header precedes the table (lossless regeneration of
    # QUERIES.md — round-5 review); table starts at the '| query |' row
    assert all_lines[0].startswith("# QUERIES")
    rows = [l for l in all_lines if l.startswith("|")]
    assert rows[0].startswith("| query |")
    # cell delimiters = pipes NOT escaped as \| (docs may contain
    # literal '||' — markdown keeps \| inside the cell)
    import re

    def ncells(r):
        return len(re.findall(r"(?<!\\)\|", r))

    ncols = ncells(rows[0])
    assert all(ncells(r) == ncols for r in rows[2:]), "pipe-escape broken"
    # the committed inventory is the generated one, byte for byte
    with open(os.path.join(root, "QUERIES.md"), encoding="utf-8") as fh:
        assert inv.stdout == fh.read(), (
            "QUERIES.md is stale: regenerate it with "
            "`python -m sora_spark inventory > QUERIES.md`")

    bad = subprocess.run(
        [sys.executable, "-m", "sora_spark", "run", "no_such_query"],
        capture_output=True, text=True, cwd=root, timeout=120,
    )
    assert bad.returncode == 2


def test_compact_parquet_crash_recovery(spark, sf_dir, tmp_path):
    """A crash between the two swap renames leaves data at _old and
    nothing at the table path; the next compaction must restore and
    proceed — and stale _tmp dirs must not break it."""
    import shutil

    from sora_spark.sources.maintenance import compact_parquet

    nation = tables(spark, sf_dir).nation
    path = str(tmp_path / "crashrec")
    nation.repartition(5).write.mode("overwrite").parquet(path)
    n = spark.read.parquet(path).count()

    # simulate the mid-swap crash: data moved to _old, path missing,
    # plus a stale partial _tmp
    os.rename(path, path + "._compact_old")
    os.makedirs(path + "._compact_tmp", exist_ok=True)
    with open(path + "._compact_tmp/garbage", "w") as f:
        f.write("partial")

    stats = compact_parquet(spark, path, target_file_bytes=1 << 20)
    assert spark.read.parquet(path).count() == n
    assert stats["files_after"] <= stats["files_before"]
    assert not os.path.isdir(path + "._compact_old")
    assert not os.path.isdir(path + "._compact_tmp")
    shutil.rmtree(path)


def test_splitter_null_text_yields_no_tokens(spark):
    """Pins qu4's NULL-text semantics (ADVICE r03): a document with
    NULL text contributes ZERO token rows — the vectorized
    str.split+explode path must dropna the NaN that pandas maps a
    missing value to, not emit a phantom (doc_id, NULL) token."""
    from sora_spark.queries.udf import qu4_map_in_pandas_splitter

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, None), (3, "")],
        "doc_id bigint, text string",
    )
    docs.createOrReplaceTempView("capability_null_docs")

    def patched(spark_, sf_dir_):
        return docs

    import sora_spark.queries.udf as udf_mod
    import sora_spark.catalog as catalog_mod

    # run the declared query body against the in-memory frame
    import types

    orig = catalog_mod.tables
    try:
        catalog_mod.tables = lambda s, d: types.SimpleNamespace(documents=docs)
        udf_mod.tables = catalog_mod.tables
        out = {r["doc_id"]: r["n_tokens"] for r in
               qu4_map_in_pandas_splitter(spark, "unused").collect()}
    finally:
        catalog_mod.tables = orig
        udf_mod.tables = orig
    # doc 2 (NULL text) absent entirely; doc 3 ("" splits to [""]) = 1
    assert out == {1: 2, 3: 1}


def test_quantile_discretize_empty_input_both_modes(spark):
    """ADVICE r03: exact=True on an empty frame must degrade to a
    single bucket exactly like the sketch path, not crash on the NULL
    percentile aggregate."""
    from sora_spark.operators.discretize import quantile_discretize

    empty = spark.createDataFrame([], "x double")
    for exact in (False, True):
        out, bounds = quantile_discretize(empty, "x", 4, exact=exact)
        assert bounds == []
        assert out.count() == 0


def test_split_threshold_hex_exact_rational():
    """ADVICE r03: thresholds come from exact decimal arithmetic, so
    an external consumer using Fraction reproduces them verbatim."""
    from fractions import Fraction

    from sora_spark.llm.curate import split_threshold_hex

    # qcur1's hardcoded oracle literals must not move
    assert split_threshold_hex(0.8) == "cccccccc"
    assert split_threshold_hex(0.9) == "e6666666"
    for frac in (0.1, 0.3, 0.7, 0.05, 1 / 3):
        want = format(int(Fraction(str(frac)) * 16**8), "08x")
        assert split_threshold_hex(frac) == want


def test_fixpoint_oracle_sf_calibration_guard():
    """ADVICE r03: unrolled-fixpoint oracle queries raise a clear
    calibration error at a larger-than-calibrated sf instead of
    surfacing as a spurious hash mismatch."""
    import pytest

    from sora_spark.queries.graph_q import _require_calibrated_sf

    _require_calibrated_sf("/root/testdata/sf0.001", "t")  # ok
    _require_calibrated_sf("/root/testdata/sf0.01", "t")  # ok
    _require_calibrated_sf("/root/testdata/sf0.1", "t")  # ok since r5
    _require_calibrated_sf("/custom/fixture/dir", "t")  # unknowable → ok
    with pytest.raises(ValueError, match="calibrated"):
        _require_calibrated_sf("/root/testdata/sf1", "t")


def test_rocksdb_provider_scoped(spark):
    """ADVICE r03: the scoped provider helper restores the previous
    state-store provider on exit (including the unset case)."""
    from sora_spark.streaming.stateful import (
        _PROVIDER_KEY,
        ROCKSDB_PROVIDER,
        rocksdb_provider,
    )

    prev = spark.conf.get(_PROVIDER_KEY, None)
    with rocksdb_provider(spark):
        assert spark.conf.get(_PROVIDER_KEY) == ROCKSDB_PROVIDER
    assert spark.conf.get(_PROVIDER_KEY, None) == prev


def test_write_fasta_rejects_corrupting_sequences(spark, tmp_path):
    """Roundtrip-corrupting sequences (embedded newline; wrap chunk
    starting with '>') must fail loudly at write time, not hash wrong
    later (round-5 review)."""
    import pytest as _pt

    from sora_spark.sources.text import write_fasta

    ok = spark.createDataFrame([(1, "ACGT" * 5)], "id int, seq string")
    write_fasta(ok, str(tmp_path / "ok"), "id", "seq", wrap=10)

    for bad_seq in ["AC\nGT", "ACGTACGTAC>GT"]:  # 2nd: '>' at chunk 2 start
        bad = spark.createDataFrame([(2, bad_seq)], "id int, seq string")
        with _pt.raises(Exception, match="write_fasta"):
            write_fasta(bad, str(tmp_path / "bad"), "id", "seq", wrap=10)


def test_misra_gries_heavy_hitter_guarantee(spark, sf_dir):
    """Mergeable MG(k) sketch guarantee (Agarwal et al.): every token
    with true frequency > n/(k+1) is reported, and each reported
    weight is a lower bound within n/(k+1) of the true frequency —
    checked against exact counts with k small enough to force pruning
    at every stage. Also: only counter rows cross the shuffle (the
    plan's exchange sits above the mapInPandas partials)."""
    from sora_spark.operators.sketch import misra_gries

    docs = tables(spark, sf_dir).documents
    tok = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    tok = tok.repartition(8)  # force multi-partition merge
    n = tok.count()
    k = 8
    exact = {
        r["tok"]: r["c"]
        for r in tok.groupBy("tok").agg(F.count("*").alias("c")).collect()
    }
    got = {r["item"]: r["w"] for r in misra_gries(tok, "tok", k=k).collect()}
    assert 0 < len(got) <= k
    bound = n / (k + 1)
    for item, freq in exact.items():
        if freq > bound:
            assert item in got, f"guaranteed heavy hitter {item} missing"
    for item, w in got.items():
        freq = exact[item]
        assert freq - bound <= w <= freq, (item, w, freq, bound)


def test_misra_gries_rejects_bad_k(spark):
    import pytest

    from sora_spark.operators.sketch import misra_gries

    df = spark.createDataFrame([("a",)], "v string")
    with pytest.raises(ValueError, match="k must be"):
        misra_gries(df, "v", k=0)


def test_qup3_fixture_has_no_tied_max_ts_per_user(spark, sf_dir):
    """qup3's oracle orders by ts DESC alone (per user_id) and its
    sink tiebreaks by content hash — both are only deterministic
    because NO user has two events sharing its max ts. Pin that
    fixture property so a regenerated fixture re-checks this row
    (verified 0 ties at sf0.001/0.01/0.1 this round)."""
    ev = tables(spark, sf_dir).events
    m = ev.groupBy("user_id").agg(F.max("ts").alias("mt"))
    tied = (
        ev.join(m, "user_id")
        .filter(F.col("ts") == F.col("mt"))
        .groupBy("user_id")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
    )
    assert tied.count() == 0


def test_arrow_interchange_roundtrip(spark, sf_dir):
    """Arrow-native interchange (Spark 4 df.toArrow /
    createDataFrame(pa.Table)): the ML-feeding path out of the engine.
    Values, schema and nested array<float> embeddings must survive the
    round trip exactly; timestamps go through the events table (nanos
    normalization upstream)."""
    import pyarrow as pa

    emb = tables(spark, sf_dir).embeddings.orderBy("vec_id").limit(20)
    t = emb.toArrow()
    assert isinstance(t, pa.Table) and t.num_rows == 20
    back = spark.createDataFrame(t)
    assert back.schema == emb.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, emb.collect())
    )

    ev = (
        tables(spark, sf_dir)
        .events.select("event_id", "ts", "value")
        .orderBy("event_id")
        .limit(50)
    )
    t2 = ev.toArrow()
    back2 = spark.createDataFrame(t2)
    assert sorted(map(tuple, back2.collect())) == sorted(
        map(tuple, ev.collect())
    )


def test_incremental_view_group_lifecycle(spark):
    """Incremental refresh must create new groups, drop zeroed groups,
    and keep untouched groups byte-identical — plus the delta side of
    the merge must be broadcast (the view is never reshuffled)."""
    from sora_spark.operators import incremental as inc

    base = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 5.0)], "g string, x double"
    )
    view = inc.build_view(base, ["g"], ["x"])
    cdc = spark.createDataFrame(
        [
            ("c", 7.0, "I"),          # brand-new group appears
            ("b", 5.0, "D"),          # group b drains to n=0 -> dropped
            ("a", 10.0, "I"),         # existing group updated
        ],
        "g string, x double, op string",
    )
    out = inc.refresh(view, cdc, ["g"], ["x"])
    got = {r["g"]: (r["n"], r["sum_x"]) for r in out.collect()}
    assert got == {"a": (3, 13.0), "c": (1, 7.0)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the stored view must never be shuffled to absorb a delta
    assert "SortMergeJoin" not in plan


def test_incremental_view_rejects_bad_op(spark):
    from sora_spark.operators import incremental as inc

    view = inc.build_view(
        spark.createDataFrame([("a", 1.0)], "g string, x double"),
        ["g"],
        ["x"],
    )
    cdc = spark.createDataFrame(
        [("a", 1.0, "UPSERT")], "g string, x double, op string"
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="bad CDC op"):
        inc.refresh(view, cdc, ["g"], ["x"]).collect()


def test_time_rollup_null_ts_stays_data_row(spark):
    """A NULL timestamp must roll up as a DATA row at the finest grain
    (grouping()-based labels), never be mislabeled as a subtotal."""
    from sora_spark.operators.timeseries import time_rollup

    df = spark.createDataFrame(
        [("2024-01-01 10:15:00", 1.0), (None, 2.0)],
        "ts_s string, value double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "value")
    out = time_rollup(
        df, "ts", ["day", "hour"], [F.count("*").alias("n")]
    )
    rows = {(r["day"], r["hour"], r["grain"]): r["n"] for r in out.collect()}
    # null-ts row appears at grain 'hour' with null day/hour
    assert rows[(None, None, "hour")] == 1
    assert rows[(None, None, "total")] == 2
    assert rows[(None, None, "day")] == 1  # day subtotal of the null-ts group


def test_zorder_layout_skips_files(spark, sf_dir, tmp_path):
    """write_zordered must yield parquet files whose min/max boxes are
    selective in BOTH dimensions: a filter on the SECOND key (y) must
    be able to skip files, whereas an x-sorted layout puts every y in
    every file. Measured directly per-file, no engine magic assumed."""
    import glob

    from sora_spark.operators.layout import write_zordered

    cust = tables(spark, sf_dir).customer.select(
        "c_custkey",
        (F.col("c_custkey") % 16).alias("x"),
        (F.col("c_nationkey") % 16).alias("y"),
    )

    def files_containing(path, col, val):
        hit = 0
        fs = sorted(glob.glob(f"{path}/part-*.parquet"))
        for f in fs:
            mm = (
                spark.read.parquet(f)
                .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
                .collect()[0]
            )
            if mm["lo"] is not None and mm["lo"] <= val <= mm["hi"]:
                hit += 1
        return hit, len(fs)

    zpath = str(tmp_path / "zord")
    write_zordered(cust, zpath, "x", "y", n_files=8, bits=4)
    xpath = str(tmp_path / "xsort")
    (
        cust.repartitionByRange(8, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(xpath)
    )
    z_hit, z_total = files_containing(zpath, "y", 3)
    x_hit, x_total = files_containing(xpath, "y", 3)
    # content identical either way
    assert (
        spark.read.parquet(zpath).count()
        == spark.read.parquet(xpath).count()
        == cust.count()
    )
    assert x_hit == x_total, "x-sorted layout scatters y across all files"
    assert z_hit < z_total, (
        f"z-order must make y-ranges skippable: {z_hit}/{z_total} files "
        f"contain y=3 (x-sorted: {x_hit}/{x_total})"
    )


def test_asof_join_forward_direction(spark):
    """Forward as-of: earliest strictly-LATER right row; equal-time
    excluded; tolerance bounds the distance forward."""
    from sora_spark.operators.asof import asof_join

    trades = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (2, 15, 102)],
        "sym INT, t INT, seq INT",
    )
    quotes = spark.createDataFrame(
        [(1, 10, 200, 90.0),   # equal-time: excluded
         (1, 12, 201, 95.0), (1, 18, 202, 97.0),  # nearest later for t=10 is 12
         (2, 40, 203, 50.0)],  # 25 ahead of the t=15 trade
        "sym INT, t INT, seq INT, px DOUBLE",
    )
    out = asof_join(
        trades, quotes, key="sym", time_col="t", tiebreak_col="seq",
        right_value_col="px", out_col="next_px", direction="forward",
    )
    rows = {r["seq"]: r["next_px"] for r in out.collect()}
    assert rows == {100: 95.0, 101: None, 102: 50.0}
    bounded = asof_join(
        trades, quotes, key="sym", time_col="t", tiebreak_col="seq",
        right_value_col="px", out_col="next_px", direction="forward",
        tolerance=10,
    )
    rows = {r["seq"]: r["next_px"] for r in bounded.collect()}
    assert rows == {100: 95.0, 101: None, 102: None}  # 40-15 > 10 nulled


def test_zstd_write_actually_zstd(spark, sf_dir, tmp_path):
    """qc5's write must really produce ZSTD-compressed column chunks
    (a silently-ignored option would still roundtrip)."""
    import pyarrow.parquet as pq

    tables(spark, sf_dir).orders.write.mode("overwrite").option(
        "compression", "zstd"
    ).parquet(str(tmp_path / "zstd"))
    f = sorted((tmp_path / "zstd").glob("part-*.parquet"))[0]
    meta = pq.ParquetFile(f).metadata
    codecs = {
        meta.row_group(0).column(i).compression
        for i in range(meta.num_columns)
    }
    assert codecs == {"ZSTD"}, codecs


def test_three_way_merge_classes(spark):
    """Hand-built conflict matrix: removed+changed, changed+changed,
    one-sided edits, and an untouched key that must NOT appear."""
    from sora_spark.operators.diff import three_way_merge_classes

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, v string"
    )
    ours = spark.createDataFrame(  # edit 1, delete 2, keep 3/4
        [(1, "A"), (3, "c"), (4, "d")], "k long, v string"
    )
    theirs = spark.createDataFrame(  # edit 1+3, keep 2/4
        [(1, "X"), (2, "b"), (3, "C"), (4, "d")], "k long, v string"
    )
    got = {
        r["k"]: (r["ours_change"], r["theirs_change"], r["resolution"])
        for r in three_way_merge_classes(base, ours, theirs, ["k"]).collect()
    }
    assert got == {
        1: ("changed", "changed", "conflict"),
        2: ("removed", None, "ours"),
        3: (None, "changed", "theirs"),
    }
    assert 4 not in got, "untouched keys must be omitted"


def test_qc7_does_not_corrupt_cached_nation_schema(spark, sf_dir):
    """Review-finding regression: qc7 builds its corrupt-record schema
    as a FRESH StructType. StructType.add() would mutate the
    session-cached nation DataFrame's cached schema in place, making
    every later nation read in the same session see a phantom
    _corrupt_record column."""
    from sora_spark.queries.registry import REGISTRY

    before = tables(spark, sf_dir).nation.schema.simpleString()
    REGISTRY["qc7_corrupt_record_handling"].spark_fn(spark, sf_dir).collect()
    after = tables(spark, sf_dir).nation.schema.simpleString()
    assert before == after
    assert "_corrupt_record" not in after


def test_fasta_writer_commit_protocol(spark, tmp_path):
    """Review-finding regression for the FASTA sink's two-phase
    commit: (a) an orphaned _tmp_ staging file (failed/speculative
    task, crashed run) is invisible to the reader; (b) abort()
    tolerates the None commit messages failed tasks produce."""
    from sora_spark.sources.fasta_datasource import (
        FastaWriter,
        register,
    )

    register(spark)
    path = str(tmp_path / "fa")
    df = spark.createDataFrame(
        [("h1", "AAAA"), ("h2", "CCCC")], "header string, sequence string"
    )
    df.write.format("fasta").mode("overwrite").save(path)
    # plant an orphan temp (as a failed attempt would leave behind)
    with open(f"{path}/_tmp_part-dead.fa", "w") as f:
        f.write(">zombie\nGGGG\n")
    back = spark.read.format("fasta").load(path)
    assert sorted(r.header for r in back.collect()) == ["h1", "h2"]
    # abort with a None message must not raise and must clean temps
    w = FastaWriter({"path": path}, overwrite=False)
    w.abort([None])
    # overwrite commit clears stale temps (the zombie) and old data
    df.write.format("fasta").mode("overwrite").save(path)
    import os

    assert not [
        f for f in os.listdir(path) if f.startswith("_tmp_")
    ], os.listdir(path)


def test_fastq_custom_datasource_roundtrip(spark, tmp_path):
    """FASTQ Python DataSource: 4-line records with quality channel,
    one partition per file; sink write -> source read roundtrips."""
    from sora_spark.sources.fastq_datasource import register

    d = str(tmp_path / "fastqds")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "a.fq"), "w") as f:
        f.write("@r1 lane1\nACGT\n+\nIIII\n@r2\nGG\n+anything\n!~\n")
    with open(os.path.join(d, "b.fq"), "w") as f:
        f.write("@r3\nCCCC\n+\nJJJJ\n")
    register(spark)
    df = spark.read.format("fastq").load(d)
    rows = {
        (r["header"], r["sequence"], r["quality"]) for r in df.collect()
    }
    assert rows == {
        ("r1 lane1", "ACGT", "IIII"),
        ("r2", "GG", "!~"),
        ("r3", "CCCC", "JJJJ"),
    }
    assert df.rdd.getNumPartitions() == 2, "one partition per file"
    # sink -> source roundtrip through the writer's two-phase commit
    out = str(tmp_path / "fastqw")
    (
        df.selectExpr("header", "sequence", "quality")
        .write.format("fastq")
        .mode("overwrite")
        .save(out)
    )
    back = {
        (r["header"], r["sequence"], r["quality"])
        for r in spark.read.format("fastq").load(out).collect()
    }
    assert back == rows
    assert not any(
        f.startswith("_tmp_") for f in os.listdir(out)
    ), "committed dir must hold no staging temps"


def test_fastq_datasource_rejects_malformed(spark, tmp_path):
    """Truncated/misframed FASTQ must fail loudly at read, not feed
    misaligned phred scores downstream."""
    import pytest as _pytest

    from sora_spark.sources.fastq_datasource import register

    register(spark)
    # quality shorter than sequence (truncated final record)
    d1 = str(tmp_path / "fastqbad1")
    os.makedirs(d1, exist_ok=True)
    with open(os.path.join(d1, "t.fq"), "w") as f:
        f.write("@r1\nACGT\n+\nII\n")
    with _pytest.raises(Exception, match="quality length"):
        spark.read.format("fastq").load(d1).collect()
    # missing '+' separator
    d2 = str(tmp_path / "fastqbad2")
    os.makedirs(d2, exist_ok=True)
    with open(os.path.join(d2, "t.fq"), "w") as f:
        f.write("@r1\nACGT\nIIII\n@r2\n")
    with _pytest.raises(Exception, match="separator"):
        spark.read.format("fastq").load(d2).collect()


def test_asof_nearest_on_timestamp_ntz(spark):
    """Regression (review finding): unix_micros rejects TIMESTAMP_NTZ,
    so the exact-microsecond gap path must cast through TIMESTAMP —
    both compared columns share the type, so the session-tz shift
    cancels in the gap. 1 us vs 2 us gap must pick backward."""
    from sora_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, "2024-01-01 00:00:00.000001")], "k int, id int, t string"
    ).select("k", "id", F.col("t").cast("timestamp_ntz").alias("t"))
    right = spark.createDataFrame(
        [
            (1, 200, "2024-01-01 00:00:00.000000", 10.0),
            (1, 201, "2024-01-01 00:00:00.000003", 20.0),
        ],
        "k int, id int, t string, v double",
    ).select("k", "id", F.col("t").cast("timestamp_ntz").alias("t"), "v")
    out = asof_join(
        left, right, key="k", time_col="t", tiebreak_col="id",
        right_value_col="v", direction="nearest",
    )
    assert [r["asof_value"] for r in out.collect()] == [10.0]


def test_quantile_summary_rank_error_bound(spark, sf_dir):
    """quantile_summary's deterministic guarantee, checked against
    exact ranks: for each probe quantile p, the estimate's TRUE rank
    interval [#{v < est}, #{v <= est}] must overlap the target rank
    ceil(p*n) within the documented bound sum_p ceil(n_p/m) <= n/m+P.
    Also pins mergeability-by-construction (the summary is the
    groupBy-merged union of per-partition summaries) and that the
    summary is actually sketch-sized."""
    from sora_spark.operators.sketch import (
        quantile_summary,
        summary_quantiles,
    )

    li = tables(spark, sf_dir).lineitem.select("l_extendedprice")
    li = li.repartition(8)  # force a real multi-partition merge
    m = 64
    summ = quantile_summary(li, "l_extendedprice", m=m).localCheckpoint(
        eager=True
    )
    n = li.count()
    n_parts = li.rdd.getNumPartitions()
    assert summ.count() <= m * n_parts + n_parts  # sketch-sized

    probs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    est = {
        r["p"]: r["value"]
        for r in summary_quantiles(summ, probs).collect()
    }
    bound = n / m + n_parts  # sum of per-partition strides, relaxed
    import math

    for p in probs:
        v = est[p]
        target = math.ceil(p * n)
        lt = li.filter(F.col("l_extendedprice") < v).count()
        le = li.filter(F.col("l_extendedprice") <= v).count()
        assert lt - bound <= target <= le + bound, (
            p, v, lt, le, target, bound,
        )


def test_quantile_summary_exact_when_m_exceeds_n(spark):
    """With m >= n every partition block is a single element, so the
    summary IS the exact weighted value histogram and quantiles are
    exact order statistics."""
    from sora_spark.operators.sketch import (
        quantile_summary,
        summary_quantiles,
    )

    vals = [float(x) for x in [5, 1, 9, 3, 7, 2, 8, 4, 6, 10]]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    summ = quantile_summary(df, "x", m=64)
    got = {r["p"]: r["value"] for r in summary_quantiles(
        summ, [0.1, 0.5, 1.0]
    ).collect()}
    assert got == {0.1: 1.0, 0.5: 5.0, 1.0: 10.0}


def test_fastq_overwrite_replaces_directory_contents(spark, tmp_path):
    """mode('overwrite') must mean read-back == this write, exactly —
    the reader lists EVERY non-temp file in the directory, so the
    overwrite sweep has to remove foreign files too (a pattern-
    restricted sweep leaves a hand-placed 'legacy.fq' that the next
    read silently unions in — round-9 review finding). Append mode,
    by contrast, leaves existing files alone. Crash-safety ordering
    (delete after rename) is preserved: the sweep only runs once this
    run's parts are all in place."""
    from sora_spark.sources.fastq_datasource import register

    register(spark)
    out = str(tmp_path / "fastqow")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "legacy.fq"), "w") as f:
        f.write("@old\nAA\n+\nII\n")
    df = spark.createDataFrame(
        [("r1", "ACGT", "IIII")], "header string, sequence string, quality string"
    )
    df.write.format("fastq").mode("overwrite").save(out)
    back = {
        (r["header"], r["sequence"], r["quality"])
        for r in spark.read.format("fastq").load(out).collect()
    }
    assert back == {("r1", "ACGT", "IIII")}, (
        "overwrite left stale records readable"
    )
    assert not os.path.exists(os.path.join(out, "legacy.fq"))
    # append keeps everything already there
    df2 = spark.createDataFrame(
        [("r2", "GG", "!!")], "header string, sequence string, quality string"
    )
    df2.write.format("fastq").mode("append").save(out)
    back2 = {
        r["header"]
        for r in spark.read.format("fastq").load(out).collect()
    }
    assert back2 == {"r1", "r2"}


def test_variant_parquet_roundtrip(spark, tmp_path):
    """qx20's storage claim executed: a VariantType column written to
    parquet survives as VARIANT (not stringified) and typed
    variant_get paths read back the same values — the parse-once,
    binary-encoded-thereafter contract that makes VARIANT the
    semi-structured scan format at 100 TB. Also pins the physical
    behavior: a missing path stays NULL through the roundtrip."""
    df = spark.range(50).select(
        F.col("id"),
        F.parse_json(
            F.concat(
                F.lit('{"a":'), F.col("id"),
                F.lit(',"b":[1,'), F.pmod("id", F.lit(7)), F.lit("]}"),
            )
        ).alias("v"),
    )
    d = str(tmp_path / "variant_pq")
    df.write.parquet(d)
    back = spark.read.parquet(d)
    assert dict(back.dtypes)["v"] == "variant", back.dtypes
    got = {
        (r["id"], r["a"], r["b1"], r["m"])
        for r in back.select(
            "id",
            F.variant_get("v", "$.a", "long").alias("a"),
            F.variant_get("v", "$.b[1]", "long").alias("b1"),
            F.try_variant_get("v", "$.missing", "long").alias("m"),
        ).collect()
    }
    assert got == {(i, i, i % 7, None) for i in range(50)}


def test_collated_keys_drive_join_and_groupby(spark):
    """qx21's shuffle claim executed: UTF8_LCASE collated columns used
    as JOIN and groupBy keys must hash case-variants into the same
    partition/group — i.e. collation participates in the equality the
    shuffle uses, with no manual lower() normalization column."""
    left = spark.createDataFrame(
        [("Alpha", 1), ("BETA", 2), ("gamma", 3)], "k string, a int"
    ).select(F.collate("k", "UTF8_LCASE").alias("k"), "a")
    right = spark.createDataFrame(
        [("alpha", 10), ("beta", 20), ("GAMMA", 30), ("delta", 40)],
        "k string, b int",
    ).select(F.collate("k", "UTF8_LCASE").alias("k"), "b")
    j = left.join(right, "k").select("a", "b")
    assert sorted(map(tuple, j.collect())) == [(1, 10), (2, 20), (3, 30)]
    g = (
        left.unionByName(right.select("k", F.col("b").alias("a")))
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )
    got = {(r["k"].lower(), r["n"]) for r in g.collect()}
    assert got == {("alpha", 2), ("beta", 2), ("gamma", 2), ("delta", 1)}


def test_parameterized_sql_positional_markers(spark):
    """The positional twin of qsub6: '?' markers bound from a list via
    spark.sql(query, args=[...]) must equal the literal form."""
    spark.range(10).createOrReplaceTempView("pp_r")
    bound = spark.sql(
        "SELECT count(*) AS n, sum(id) AS s FROM pp_r WHERE id >= ? AND id < ?",
        args=[3, 8],
    ).collect()
    literal = spark.sql(
        "SELECT count(*) AS n, sum(id) AS s FROM pp_r WHERE id >= 3 AND id < 8"
    ).collect()
    assert [tuple(r) for r in bound] == [tuple(r) for r in literal] == [(5, 25)]


def test_entry_rotation_fronts_stalest_rows():
    """__spark_entry__._ordered_names() is what decides which 50 rows
    the driver's CORRECTNESS window certifies each round — pin its
    contract: (1) a permutation of the registry, (2) every row with
    NO driver-green record sorts before every row that has one (so a
    bounded window always certifies the stalest results first),
    (3) rows lacking an oracle never displace an oracle-eligible
    never-green row, (4) deterministic across calls."""
    import __spark_entry__ as entry
    from sora_spark.queries import REGISTRY as REG

    names = entry._ordered_names()
    assert sorted(names) == sorted(REG), "must be a registry permutation"
    assert names == entry._ordered_names(), "must be deterministic"

    latest = entry._last_green_round()
    first_green = next(
        (i for i, n in enumerate(names) if n in latest), len(names)
    )
    stale_after_green = [
        n for n in names[first_green:] if n not in latest
        and REG[n].oracle is not None
    ]
    assert stale_after_green == [], (
        "oracle-eligible never-green rows sorted behind a green row: "
        f"{stale_after_green[:5]}"
    )


def test_topk_salted_matches_window_under_skew(spark):
    """topk_per_group_salted == plain window on a deliberately nasty
    distribution: one group holds ~96% of all rows (the organic-skew
    shape AQE cannot fix for windows), plus NULL order values (Spark
    desc = NULLS LAST must survive both phases) and duplicate order
    values resolved by the tiebreak."""
    from pyspark.sql.window import Window

    from sora_spark.operators.topk import topk_per_group_salted

    df = spark.range(50_000).select(
        # five distinct SMALL groups (0..4) next to the 96%-hot group
        # 99 — id % 5 under id % 25 == 0 would always be 0 and
        # collapse them into one (review finding)
        F.when(
            F.col("id") % 25 == 0, (F.col("id") / 25).cast("long") % 5
        ).otherwise(F.lit(99)).alias("g"),
        # duplicates (id % 1000) and a NULL stripe
        F.when(F.col("id") % 7 == 0, None)
        .otherwise((F.col("id") % 1000).cast("double")).alias("v"),
        F.col("id"),
    )
    w = Window.partitionBy("g").orderBy(F.desc("v"), "id")
    want = sorted(
        map(
            tuple,
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 7).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            topk_per_group_salted(
                df, ["g"], "v", 7, tiebreak_cols=["id"]
            ).collect(),
        )
    )
    assert got == want


def test_topk_adaptive_dispatch_engages_salt_only_under_skew(spark):
    """topk_per_group_adaptive (r10 verdict item 3): the SAME entry
    point must route a skewed input through the salted two-phase form
    (its plan carries the pmod(hash(..)) salt) and a uniform input
    through the plain single-window form (no salt, no second window) —
    and both dispatches must return exactly the plain window's rows.
    Thresholds are scaled to the 50k-row fixture; the default 5M
    threshold is the regime boundary documented in the operator."""
    import io

    from pyspark.sql.window import Window

    from sora_spark.operators.topk import (
        choose_topk_strategy,
        topk_per_group_adaptive,
    )

    def plan_of(df):
        import contextlib

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("simple")
        return buf.getvalue()

    # ~96% of rows in group 99 (hot), groups 0..4 tiny
    skewed = spark.range(50_000).select(
        F.when(
            F.col("id") % 25 == 0, (F.col("id") / 25).cast("long") % 5
        ).otherwise(F.lit(99)).alias("g"),
        (F.col("id") % 1000).cast("double").alias("v"),
        F.col("id"),
    )
    # uniform: 1000 groups of ~50 rows
    uniform = spark.range(50_000).select(
        (F.col("id") % 1000).alias("g"),
        (F.col("id") % 777).cast("double").alias("v"),
        F.col("id"),
    )
    kw = dict(skew_threshold=5_000, sample_fraction=0.5)

    assert choose_topk_strategy(skewed, ["g"], **kw) == "salted"
    assert choose_topk_strategy(uniform, ["g"], **kw) == "plain"

    for df in (skewed, uniform):
        got = topk_per_group_adaptive(
            df, ["g"], "v", 5, tiebreak_cols=["id"], **kw
        )
        p = plan_of(got)
        if df is skewed:
            assert "pmod(hash" in p, "salted path must engage:\n" + p
        else:
            assert "pmod(hash" not in p, (
                "plain path must not pay the salt exchange:\n" + p)
        w = Window.partitionBy("g").orderBy(F.desc("v"), "id")
        want = sorted(map(tuple, df.withColumn(
            "rn", F.row_number().over(w)
        ).filter(F.col("rn") <= 5).collect()))
        assert sorted(map(tuple, got.collect())) == want


def test_topk_salted_rejects_empty_tiebreak(spark):
    """ADVICE r10: F.hash() with zero cols raised an opaque py4j
    error; both the salted and adaptive forms now fail with a clear
    message naming the total-order precondition."""
    import pytest as _pytest

    from sora_spark.operators.topk import (
        topk_per_group_adaptive,
        topk_per_group_salted,
    )

    df = spark.range(10).select(
        F.lit(1).alias("g"), F.col("id").cast("double").alias("v"))
    with _pytest.raises(ValueError, match="tiebreak_cols"):
        topk_per_group_salted(df, ["g"], "v", 3, tiebreak_cols=[])
    with _pytest.raises(ValueError, match="tiebreak_cols"):
        topk_per_group_adaptive(
            df, ["g"], "v", 3, tiebreak_cols=[],
            skew_threshold=1, sample_fraction=1.0)


def test_commit_log_table_lifecycle(spark, tmp_path):
    """sources/commit_log.py core contracts beyond qup7's oracle:
    append versioning, snapshot isolation of a pinned reader across an
    APPEND, time travel to every version, orphan data invisibility
    (a data directory without a published commit does not exist), and
    the single-writer claim (a second commit of the same version
    raises ConcurrentWriteError instead of silently winning)."""
    import json
    import os

    import pytest as _pytest

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    df1 = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    assert cl.create_table(spark, path, df1) == 1
    pinned = cl.read_table(spark, path)
    df2 = spark.range(5, 8).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    assert cl.append(spark, path, df2) == 2
    # pinned reader resolved its file list at version 1
    assert pinned.count() == 5
    assert cl.read_table(spark, path).count() == 8
    assert cl.read_table(spark, path, version=1).count() == 5
    assert cl.table_versions(path) == [1, 2]

    # schema drift refuses
    bad = spark.range(1).select(F.col("id").alias("k"))
    with _pytest.raises(ValueError, match="schema"):
        cl.append(spark, path, bad)

    # orphan data dir (crashed writer: data written, commit never
    # published) must be invisible
    orphan = os.path.join(path, "data", "v99999999-dead")
    spark.range(50).write.parquet(orphan)
    assert cl.read_table(spark, path).count() != 50

    # single-writer claim: hand-publish a conflicting version
    v = cl.table_versions(path)[-1]
    with _pytest.raises(cl.ConcurrentWriteError):
        cl._publish(path, {"version": v, "operation": "append",
                           "added": [], "removed": []})

    # commits are valid standalone JSON (the log is the table)
    with open(os.path.join(path, "_commits", f"{v:08d}.json")) as f:
        entry = json.load(f)
    assert entry["version"] == v


def test_commit_log_merge_time_travel(spark, tmp_path):
    """merge_upsert delists, never deletes: after the merge, version 1
    reads back byte-identical and version 2 is the SQL-MERGE result
    (latest ts per key, batch wins ties)."""
    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "m")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10)],
        "k bigint, s string, ts bigint")
    cl.create_table(spark, path, base)
    batch = spark.createDataFrame(
        [(2, "B", 20), (4, "d", 20)], "k bigint, s string, ts bigint")
    v2 = cl.merge_upsert(spark, path, batch, ["k"], "ts")
    assert v2 == 2
    got_v1 = sorted(map(tuple, cl.read_table(spark, path, 1).collect()))
    assert got_v1 == [(1, "a", 10), (2, "b", 10), (3, "c", 10)]
    got_v2 = sorted(map(tuple, cl.read_table(spark, path).collect()))
    assert got_v2 == [(1, "a", 10), (2, "B", 20), (3, "c", 10),
                      (4, "d", 20)]


def test_commit_log_vacuum_retention(spark, tmp_path):
    """vacuum keeps every directory reachable from the newest
    `keep_versions` snapshots, deletes delisted + orphan dirs, and
    time travel inside the window still works while outside it the
    commit JSON remains but the read fails (the documented Delta-style
    trade)."""
    import os

    import pytest as _pytest

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "v")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], "k bigint, s string, ts bigint")
    cl.create_table(spark, path, base)                       # v1
    cl.merge_upsert(spark, path, spark.createDataFrame(
        [(2, "B", 20)], "k bigint, s string, ts bigint"),
        ["k"], "ts")                                         # v2 delists v1
    cl.append(spark, path, spark.createDataFrame(
        [(3, "c", 30)], "k bigint, s string, ts bigint"))    # v3
    # orphan from a "crashed writer"
    orphan_rel = os.path.join("data", "v00000099-orphan")
    spark.range(3).write.parquet(os.path.join(path, orphan_rel))

    deleted = cl.vacuum(path, keep_versions=2)  # window = {v2, v3}
    # v1's dir (delisted at v2) and the orphan go; v2/v3 dirs stay
    assert orphan_rel in deleted
    assert len(deleted) == 2
    assert cl.read_table(spark, path, 2).count() == 2
    assert cl.read_table(spark, path, 3).count() == 3
    assert cl.table_versions(path) == [1, 2, 3]  # provenance retained
    with _pytest.raises(Exception):
        cl.read_table(spark, path, 1).count()    # outside the window


def test_commit_log_merge_data_skipping(spark, tmp_path):
    """The pruned MERGE (r11): live directories whose recorded key
    stats are disjoint from the batch's key range stay LISTED and
    unrewritten — the commit's `removed` names only the overlapping
    directories — and the merged result equals MERGE INTO semantics.
    A directory committed WITHOUT stats is conservatively rewritten."""
    import json
    import os

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "p")
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, s string, ts bigint")
    cl.create_table(spark, path, mk([(1, "a", 10), (2, "b", 10)]),
                    stats_cols=["k"])                       # keys 1-2
    cl.append(spark, path, mk([(10, "j", 10), (11, "k", 10)]),
              stats_cols=["k"])                             # keys 10-11
    cl.append(spark, path, mk([(20, "t", 10), (21, "u", 10)]),
              stats_cols=["k"])                             # keys 20-21
    dirs_before = cl._table_state(cl._read_commits(path, None)).live
    assert len(dirs_before) == 3

    # batch touches only the middle range (keys 10-12)
    v = cl.merge_upsert(
        spark, path, mk([(10, "J", 20), (12, "m", 20)]), ["k"], "ts")
    with open(os.path.join(path, "_commits", f"{v:08d}.json")) as f:
        entry = json.load(f)
    assert entry["removed"] == [dirs_before[1]]   # only keys 10-11 dir
    assert entry["pruned_dirs"] == 2
    live = cl._table_state(cl._read_commits(path, None)).live
    assert dirs_before[0] in live and dirs_before[2] in live
    got = sorted(map(tuple, cl.read_table(spark, path).collect()))
    assert got == [(1, "a", 10), (2, "b", 10), (10, "J", 20),
                   (11, "k", 10), (12, "m", 20), (20, "t", 10),
                   (21, "u", 10)]
    # the merge output dir itself carries stats (pruning survives)
    assert entry["stats"][entry["added"][0]]["k"]["min"] == 10

    # a stats-less directory is never skipped (conservative)
    cl.append(spark, path, mk([(30, "x", 10)]))   # no stats_cols
    v2 = cl.merge_upsert(spark, path, mk([(1, "A", 30)]), ["k"], "ts")
    with open(os.path.join(path, "_commits", f"{v2:08d}.json")) as f:
        e2 = json.load(f)
    removed = set(e2["removed"])
    assert any("v%08d" % 5 in d for d in removed) or len(removed) >= 2
    got2 = dict((r[0], r[1]) for r in cl.read_table(spark, path).collect())
    assert got2[1] == "A" and got2[30] == "x"


def test_commit_log_merge_null_keys_not_pruned(spark, tmp_path):
    """Null keys group together under the merge window: a directory
    containing null keys must NOT be skipped when the batch also has
    null keys, even if the non-null ranges are disjoint."""
    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "n")
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, s string, ts bigint")
    cl.create_table(spark, path, mk([(None, "old", 10), (1, "a", 10)]),
                    stats_cols=["k"])
    cl.append(spark, path, mk([(50, "z", 10)]), stats_cols=["k"])
    cl.merge_upsert(spark, path, mk([(None, "NEW", 20), (99, "q", 20)]),
                    ["k"], "ts")
    got = sorted(map(tuple, cl.read_table(spark, path).collect()),
                 key=lambda t: (t[0] is None, t[0]))
    assert (None, "NEW", 20) in got and (None, "old", 10) not in got
    assert (1, "a", 10) in got and (50, "z", 10) in got and (99, "q", 20) in got


def test_commit_log_delete_compact(spark, tmp_path):
    """DELETE rewrites only directories that contain matching rows
    (found via one _metadata.file_path pass); OPTIMIZE bin-packs the
    live dirs into one without changing the data; history survives."""
    import json
    import os

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "d")
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, s string, ts bigint")
    cl.create_table(spark, path, mk([(1, "a", 10), (2, "b", 10)]),
                    stats_cols=["k"])
    cl.append(spark, path, mk([(10, "a", 10), (11, "c", 10)]),
              stats_cols=["k"])
    cl.append(spark, path, mk([(20, "d", 10)]), stats_cols=["k"])
    dirs = cl._table_state(cl._read_commits(path, None)).live

    v = cl.delete_where(spark, path, "s = 'a'")   # hits dirs 1 and 2 only
    with open(os.path.join(path, "_commits", f"{v:08d}.json")) as f:
        e = json.load(f)
    assert set(e["removed"]) == {dirs[0], dirs[1]}
    assert e["pruned_dirs"] == 1
    got = sorted(map(tuple, cl.read_table(spark, path).collect()))
    assert got == [(2, "b", 10), (11, "c", 10), (20, "d", 10)]
    # no matches -> no commit
    assert cl.delete_where(spark, path, "s = 'zzz'") is None
    # NULL predicate rows are KEPT (SQL DELETE semantics)
    cl.append(spark, path, mk([(30, None, 10)]), stats_cols=["k"])
    cl.delete_where(spark, path, F.col("s") < "c")
    kept = {r[0] for r in cl.read_table(spark, path).collect()}
    assert kept == {11, 20, 30}

    before = sorted(map(tuple, cl.read_table(spark, path).collect()),
                    key=str)
    vc = cl.compact(spark, path)
    assert vc is not None
    assert len(cl._table_state(cl._read_commits(path, None)).live) == 1
    after = sorted(map(tuple, cl.read_table(spark, path).collect()),
                   key=str)
    assert before == after
    # compacted dir inherits stats -> future merges still skip
    st = cl._table_state(cl._read_commits(path, None)).stats
    (only,) = st.values()
    assert "k" in only
    # idempotent-ish: a second compact on a single dir is a no-op
    assert cl.compact(spark, path) is None
    # history: the pre-delete version still reads
    assert cl.read_table(spark, path, 3).count() == 5


def test_commit_log_table_changes(spark, tmp_path):
    """Snapshot CDC across a delete + merge span: inserts carry the
    new image, deletes the old image, updates the post-image, and
    identical rows are absent; an optimize-only span diffs to zero."""
    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "c")
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, s string, ts bigint")
    cl.create_table(spark, path, mk(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10), (4, "d", 10)]),
        stats_cols=["k"])                                     # v1
    cl.delete_where(spark, path, "k = 3")                     # v2
    cl.merge_upsert(spark, path, mk([(2, "B", 20), (5, "e", 20)]),
                    ["k"], "ts")                              # v3
    ch = sorted(
        map(tuple, cl.table_changes(spark, path, 1, 3, ["k"]).collect()))
    assert ch == [(2, "B", 20, "update"), (3, "c", 10, "delete"),
                  (5, "e", 20, "insert")]
    cl.append(spark, path, mk([(9, "z", 10)]), stats_cols=["k"])  # v4
    assert cl.compact(spark, path) == 5                       # v5
    assert cl.table_changes(spark, path, 4, 5, ["k"]).count() == 0


def test_commit_log_exactly_once_sink(spark, tmp_path):
    """txn_append skips a replayed (app, epoch) pair — the foreachBatch
    exactly-once contract — including empty-batch watermark advance,
    and the real writeStream.foreachBatch path lands each file-source
    batch exactly once despite a manual replay."""
    import os

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, v bigint")
    sink = cl.exactly_once_sink(path, "appA", stats_cols=["k"])
    sink(mk([(1, 10)]), 0)            # creates the table
    sink(mk([(2, 20)]), 1)
    sink(mk([(2, 999)]), 1)           # REPLAY of epoch 1: must skip
    sink(mk([]), 2)                   # empty batch advances watermark
    sink(mk([(9, 90)]), 2)            # replay of (now-seen) epoch 2
    got = sorted(map(tuple, cl.read_table(spark, path).collect()))
    assert got == [(1, 10), (2, 20)]
    assert cl.latest_txn_version(path, "appA") == 2
    assert cl.latest_txn_version(path, "nobody") is None
    # a different app id is independent
    assert cl.txn_append(spark, path, mk([(3, 30)]), "appB", 0) is not None

    # real structured-streaming path: file source -> foreachBatch sink
    src = str(tmp_path / "src")
    os.makedirs(src)
    mk([(100, 1), (101, 1)]).coalesce(1).write.json(os.path.join(src, "b0"))
    stream = (
        spark.readStream.schema("k bigint, v bigint")
        .json(os.path.join(src, "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            cl.exactly_once_sink(path2 := str(tmp_path / "t2"), "s1"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n1 = cl.read_table(spark, path2).count()
    assert n1 == 2
    # manual replay of epoch 0 (simulated failure-after-commit)
    replay = spark.read.schema("k bigint, v bigint").json(
        os.path.join(src, "b0"))
    cl.exactly_once_sink(path2, "s1")(replay, 0)
    assert cl.read_table(spark, path2).count() == 2


def test_commit_log_schema_evolution(spark, tmp_path):
    """merge_schema appends ADD columns only: old files read back with
    NULLs in the new column (no footer merge — read_table applies the
    recorded schema), time travel before the evolution keeps the old
    shape, drops/retypes refuse loudly, post-evolution writers must
    carry the full current schema, and the merge gate follows the
    LATEST schema."""
    import pytest as _pytest

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "e")
    cl.create_table(spark, path, spark.createDataFrame(
        [(1, "a"), (2, "b")], "k bigint, s string"))
    with _pytest.raises(ValueError, match="merge_schema=True"):
        cl.append(spark, path, spark.createDataFrame(
            [(3, "c", 1.5)], "k bigint, s string, w double"))
    cl.append(spark, path, spark.createDataFrame(
        [(3, "c", 1.5)], "k bigint, s string, w double"),
        merge_schema=True)
    got = sorted(map(tuple, cl.read_table(spark, path).collect()))
    assert got == [(1, "a", None), (2, "b", None), (3, "c", 1.5)]
    # time travel: pre-evolution version keeps the 2-column shape
    assert cl.read_table(spark, path, 1).columns == ["k", "s"]
    # drops / retypes refuse
    with _pytest.raises(ValueError, match="drops"):
        cl.append(spark, path, spark.createDataFrame(
            [(4, 2.0)], "k bigint, w double"), merge_schema=True)
    with _pytest.raises(ValueError, match="retypes"):
        cl.append(spark, path, spark.createDataFrame(
            [(4, "d", 7)], "k bigint, s string, w bigint"),
            merge_schema=True)
    # the merge gate follows the LATEST schema: a full-schema batch
    # merges fine, an old-shape batch refuses
    cl.merge_upsert(spark, path, spark.createDataFrame(
        [(2, "B", 9.0)], "k bigint, s string, w double"), ["k"], "w")
    with _pytest.raises(ValueError, match="schema"):
        cl.merge_upsert(spark, path, spark.createDataFrame(
            [(1, "A")], "k bigint, s string"), ["k"], "s")
    got2 = {r["k"]: (r["s"], r["w"])
            for r in cl.read_table(spark, path).collect()}
    assert got2[2] == ("B", 9.0) and got2[3] == ("c", 1.5)


def test_commitlog_stream_stops_on_schema_evolution(spark, tmp_path):
    """A commitlog stream must not ADVANCE past a post-start
    schema_evolved commit (continuing would silently truncate the new
    column), but every pre-evolution row is still DELIVERED; a FRESH
    stream starting at the evolution adopts the new schema with no
    row lost between the two."""
    import os

    from sora_spark.sources import commit_log as cl
    from sora_spark.sources import commit_log_stream as cls_

    cls_.register(spark)
    path = str(tmp_path / "t")
    cl.create_table(spark, path, spark.createDataFrame(
        [(1, "a")], "k bigint, s string"))                    # v1
    cl.append(spark, path, spark.createDataFrame(
        [(2, "b", 5.0)], "k bigint, s string, w double"),
        merge_schema=True)                                    # v2

    def run(out, ck, start=None):
        r = spark.readStream.format("commitlog").option("path", path)
        if start is not None:
            r = r.option("startingVersion", start)
        q = (
            r.load().writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    # old-shape stream: drains v1 and refuses to ADVANCE into v2
    # (latestOffset caps at the last pre-evolution version, so every
    # pre-evolution row is delivered rather than stranded)
    out1 = str(tmp_path / "o1")
    run(out1, str(tmp_path / "c1"))
    rows1 = spark.read.parquet(out1)
    assert rows1.columns == ["k", "s"]
    assert sorted(map(tuple, rows1.collect())) == [(1, "a")]
    # rerunning the same checkpoint idles at the cap: no error, no dups
    run(out1, str(tmp_path / "c1"))
    assert sorted(map(tuple, spark.read.parquet(out1).collect())) == [
        (1, "a")]

    # fresh stream AT the evolution version: new schema, only v2 rows
    # -> the handoff between the two streams loses nothing
    out2 = str(tmp_path / "o2")
    run(out2, str(tmp_path / "c2"), start=2)
    rows = spark.read.parquet(out2)
    assert rows.columns == ["k", "s", "w"]
    assert sorted(map(tuple, rows.collect())) == [(2, "b", 5.0)]


def test_hll_sketch_merge_is_elementwise_max(spark):
    """The portable HLL's mergeable-summary property: the register
    table of A ∪ B must equal the elementwise MAX of A's and B's
    register tables (so shards sketch independently and merge without
    touching data), and the estimate must track exact cardinality
    within the 3-sigma relative bound at m=64."""
    from sora_spark.operators import sketch

    a = spark.range(0, 4000).select(F.col("id").alias("v"))
    b = spark.range(3000, 9000).select(F.col("id").alias("v"))
    ra = sketch.hll_registers(a, "v")
    rb = sketch.hll_registers(b, "v")
    merged = (
        ra.join(rb.withColumnRenamed("m_j", "m_b"), "j")
        .select("j", F.greatest("m_j", "m_b").alias("m_j"))
    )
    direct = sketch.hll_registers(a.unionByName(b), "v")
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, direct.collect()))
    est = sketch.hll_estimate(direct).collect()[0]["estimate"]
    assert abs(est - 9000) / 9000 < 0.39, est


def test_commit_log_cdc_across_schema_evolution(spark, tmp_path):
    """table_changes spanning a merge_schema evolution aligns the
    older snapshot to the newer shape with NULL fills: a row whose
    only change is gaining a value in the ADDED column surfaces as an
    update (null -> value is a real diff), untouched rows stay
    absent, and deletes carry a NULL in the added column."""
    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "c")
    cl.create_table(spark, path, spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, s string"))   # v1
    cl.append(spark, path, spark.createDataFrame(
        [(4, "d", 1.0)], "k bigint, s string, w double"),
        merge_schema=True)                                       # v2
    cl.delete_where(spark, path, "k = 3")                        # v3
    cl.merge_upsert(spark, path, spark.createDataFrame(
        [(2, "b", 9.0)], "k bigint, s string, w double"),
        ["k"], "w")                                              # v4
    ch = sorted(map(tuple,
                    cl.table_changes(spark, path, 1, 4, ["k"]).collect()))
    assert ch == [
        (2, "b", 9.0, "update"),        # gained a value in the added col
        (3, "c", None, "delete"),       # old image, NULL in added col
        (4, "d", 1.0, "insert"),
    ]


def test_commit_log_delete_all_leaves_empty_table(spark, tmp_path):
    """A delete that matches every row must leave a READABLE EMPTY
    table (SQL/Delta semantics), not an unreadable one: read_table
    falls back to an empty DataFrame with the recorded schema when
    zero directories are live, appends revive the table, and CDC
    across the empty state works."""
    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "z")
    cl.create_table(spark, path, spark.createDataFrame(
        [(1, "a"), (2, "b")], "k bigint, s string"))
    v = cl.delete_where(spark, path, "k > 0")
    empty = cl.read_table(spark, path)
    assert empty.columns == ["k", "s"] and empty.count() == 0
    ch = sorted(map(tuple, cl.table_changes(spark, path, 1, v, ["k"]).collect()))
    assert ch == [(1, "a", "delete"), (2, "b", "delete")]
    cl.append(spark, path, spark.createDataFrame(
        [(3, "c")], "k bigint, s string"))
    assert cl.read_table(spark, path).count() == 1


def test_commit_log_clustered_compact(spark, tmp_path):
    """compact(cluster_by=...) — the liquid-clustering shape: the live
    directories are rewritten as range-disjoint buckets with tight
    per-bucket stats, the data is unchanged, a subsequent key-narrow
    MERGE prunes to one bucket, DELETE's file-path discovery resolves
    the bucket relpaths, and vacuum reclaims delisted buckets without
    eating the shared parent."""
    import json
    import os

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "c")
    # interleaved appends: every dir spans the whole key range, so
    # nothing prunes before clustering
    rows = [(k, "s%d" % k, 10) for k in range(200)]
    mk = lambda rs: spark.createDataFrame(rs, "k bigint, s string, ts bigint")
    cl.create_table(spark, path, mk(rows[0::3]), stats_cols=["k"])
    cl.append(spark, path, mk(rows[1::3]), stats_cols=["k"])
    cl.append(spark, path, mk(rows[2::3]), stats_cols=["k"])
    before = sorted(map(tuple, cl.read_table(spark, path).collect()))

    v = cl.compact(spark, path, target_partitions=4, cluster_by=["k"])
    with open(os.path.join(path, "_commits", "%08d.json" % v)) as f:
        e = json.load(f)
    assert e["clustered_by"] == ["k"]
    assert 2 <= len(e["added"]) <= 4
    assert all("_bucket=" in d for d in e["added"])
    # buckets are range-DISJOINT on k
    ranges = sorted(
        (e["stats"][d]["k"]["min"], e["stats"][d]["k"]["max"])
        for d in e["added"]
    )
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2
    assert sorted(map(tuple, cl.read_table(spark, path).collect())) == before

    # a key-narrow merge now prunes to ONE bucket
    vm = cl.merge_upsert(spark, path, mk([(5, "S5", 20)]), ["k"], "ts")
    with open(os.path.join(path, "_commits", "%08d.json" % vm)) as f:
        em = json.load(f)
    assert len(em["removed"]) == 1 and em["pruned_dirs"] == len(e["added"]) - 1

    # DELETE resolves bucket relpaths through _metadata.file_path
    vd = cl.delete_where(spark, path, "k = 190")
    with open(os.path.join(path, "_commits", "%08d.json" % vd)) as f:
        ed = json.load(f)
    assert len(ed["removed"]) == 1
    got = {r["k"] for r in cl.read_table(spark, path).collect()}
    assert 190 not in got and got == set(range(200)) - {190}

    # vacuum reclaims the delisted buckets but not live siblings
    deleted = cl.vacuum(path, keep_versions=1)
    assert any("_bucket=" in d for d in deleted)
    assert sorted(map(tuple, cl.read_table(spark, path).collect())) == sorted(
        map(tuple, [(k, "s%d" % k, 10) for k in range(200)
                    if k not in (5, 190)] + [(5, "S5", 20)]))


def test_commit_log_check_constraint(spark, tmp_path):
    """CHECK constraints: declared at create, enforced by EVERY writer
    (append / merge / txn sink) as an Observation riding the data
    write — a violating batch raises ConstraintViolationError and
    commits NOTHING (the written directory is an unpublished orphan,
    reclaimed by vacuum); NULL passes (SQL semantics); a violating
    CREATE leaves no table at all."""
    import pytest as _pytest

    from sora_spark.sources import commit_log as cl

    mk = lambda rows: spark.createDataFrame(
        rows, "k bigint, price double, ts bigint")

    # violating CREATE: no table comes into existence
    p0 = str(tmp_path / "t0")
    with _pytest.raises(cl.ConstraintViolationError):
        cl.create_table(spark, p0, mk([(1, -5.0, 1)]), check="price >= 0")
    assert cl.table_versions(p0) == []

    path = str(tmp_path / "t")
    cl.create_table(spark, path, mk([(1, 10.0, 1), (2, None, 1)]),
                    check="price >= 0")          # NULL passes
    with _pytest.raises(cl.ConstraintViolationError, match="1 row"):
        cl.append(spark, path, mk([(3, -1.0, 1)]))
    with _pytest.raises(cl.ConstraintViolationError):
        cl.merge_upsert(spark, path, mk([(1, -99.0, 2)]), ["k"], "ts")
    with _pytest.raises(cl.ConstraintViolationError):
        cl.txn_append(spark, path, mk([(4, -2.0, 1)]), "app", 0)
    # nothing committed; the orphaned violation dirs vacuum away
    assert cl.table_versions(path) == [1]
    assert sorted(map(tuple, cl.read_table(spark, path).collect()),
                  key=str) == sorted(
        [(1, 10.0, 1), (2, None, 1)], key=str)
    deleted = cl.vacuum(path, keep_versions=1)
    assert len(deleted) == 3  # the three unpublished writes
    cl.append(spark, path, mk([(5, 5.0, 1)]))  # valid writes still land
    assert cl.read_table(spark, path).count() == 3


def test_clustered_compact_single_dir_and_sidecar_recovery(spark, tmp_path):
    """Two r11 review closures: (a) an explicit cluster_by request is
    honored even on a single-directory table (min_dirs gates only
    plain OPTIMIZE); (b) the text index's sidecars are a derived
    cache — after a simulated crash between postings-append and
    sidecar update (stale sidecars), rebuild_sidecars restores exact
    consistency from the postings alone."""
    import json
    import os

    from sora_spark.llm import textindex
    from sora_spark.sources import commit_log as cl

    # (a) one interleaved dir -> clustered layout
    path = str(tmp_path / "t")
    mk = lambda rs: spark.createDataFrame(rs, "k bigint, s string, ts bigint")
    cl.create_table(spark, path, mk([(k, "x", 1) for k in range(100)]),
                    stats_cols=["k"])
    v = cl.compact(spark, path, target_partitions=4, cluster_by=["k"])
    assert v is not None
    with open(os.path.join(path, "_commits", "%08d.json" % v)) as f:
        assert len(json.load(f)["added"]) >= 2

    # (b) stale-sidecar recovery
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma " + ("delta " * (i % 3)).strip())
         for i in range(40)],
        "doc_id bigint, text string")
    ipath = str(tmp_path / "ix")
    textindex.write_text_index(
        docs.filter("doc_id % 2 = 0"), ipath, n_buckets=8)
    # simulate the crash: postings of the second half land, sidecars
    # do NOT (raw postings append without the rebuild step)
    textindex._postings(
        docs.filter("doc_id % 2 = 1"), "text", "doc_id", False, 8
    ).write.partitionBy("_tb").mode("append").parquet(ipath)
    textindex.rebuild_sidecars(spark, ipath, 8)
    served = {r["doc_id"]: r["score"] for r in textindex.bm25_topk_indexed(
        spark, ipath, ["delta", "beta"], top_k=40).collect()}
    fresh_path = str(tmp_path / "ix2")
    textindex.write_text_index(docs, fresh_path, n_buckets=8)
    fresh = {r["doc_id"]: r["score"] for r in textindex.bm25_topk_indexed(
        spark, fresh_path, ["delta", "beta"], top_k=40).collect()}
    assert served == fresh


def test_commit_log_timestamp_travel_and_history(spark, tmp_path):
    """AS OF TIMESTAMP time travel (newest version committed at or
    before the instant; exact commit instants included; pre-table
    instants refuse) and DESCRIBE HISTORY (one row per commit with
    operation, counts, evolution flag, and txn tags)."""
    import pytest as _pytest

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, v bigint")
    cl.create_table(spark, path, mk([(1, 10)]), stats_cols=["k"])
    cl.append(spark, path, mk([(2, 20)]))
    cl.merge_upsert(spark, path, mk([(1, 99)]), ["k"], "v")
    cl.txn_append(spark, path, mk([(3, 30)]), "appZ", 5)

    h = {r["version"]: r for r in cl.history(spark, path).collect()}
    assert [h[v]["operation"] for v in sorted(h)] == [
        "create", "append", "merge_upsert", "txn_append"]
    assert h[4]["txn_app"] == "appZ" and h[4]["txn_version"] == 5
    assert h[3]["n_removed"] >= 1
    stamps = [h[v]["committed_at"] for v in sorted(h)]
    assert stamps == sorted(stamps) and stamps[0] > 0

    # timestamp travel: exactly-at and between-commit instants
    assert cl.version_as_of(path, stamps[1]) == 2
    mid = (stamps[2] + stamps[3]) / 2
    got = sorted(map(tuple, cl.read_table(
        spark, path, timestamp=mid).collect()))
    assert got == [(1, 99), (2, 20)]
    with _pytest.raises(ValueError, match="at or before"):
        cl.version_as_of(path, stamps[0] - 10)
    with _pytest.raises(ValueError, match="not both"):
        cl.read_table(spark, path, version=1, timestamp=mid)


def test_commit_log_deletion_vectors(spark, tmp_path):
    """DV mode (r12): a selective DELETE with deletion_vectors=True
    touches ZERO data directories — commit-pinned (added=[],
    removed=[], dv_added one sidecar, dv_rows the matched count);
    reads reconcile live vectors; NULL predicate rows are kept; DVs
    stack; a DV'd row cannot resurrect through a merge; compact
    applies + delists them and vacuum reclaims the sidecars."""
    import json
    import os

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "dv")
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, s string, ts bigint")
    cl.create_table(spark, path, mk([(1, "a", 10), (2, "b", 10)]),
                    stats_cols=["k"])
    cl.append(spark, path, mk([(10, "a", 10), (11, None, 10)]),
              stats_cols=["k"])
    dirs_before = cl._table_state(cl._read_commits(path, None)).live

    v = cl.delete_where(spark, path, "s = 'a'", deletion_vectors=True)
    with open(os.path.join(path, "_commits", f"{v:08d}.json")) as f:
        e = json.load(f)
    assert e["operation"] == "delete_dv"
    assert e["added"] == [] and e["removed"] == []
    assert len(e["dv_added"]) == 1 and e["dv_added"][0].startswith("dv/")
    assert e["dv_rows"] == 2
    # zero data directories touched — the live set is unchanged
    assert cl._table_state(cl._read_commits(path, None)).live == dirs_before
    got = sorted(map(tuple, cl.read_table(spark, path).collect()), key=str)
    assert got == sorted([(2, "b", 10), (11, None, 10)], key=str)

    # NULL predicate rows are KEPT; no-match publishes nothing
    assert cl.delete_where(
        spark, path, F.col("s") < "a", deletion_vectors=True) is None
    # stacking: second DV delete sees only live rows
    cl.delete_where(spark, path, "k = 2", deletion_vectors=True)
    assert {r[0] for r in cl.read_table(spark, path).collect()} == {11}

    # a DV'd key must not resurrect by losing a merge tiebreak
    cl.merge_upsert(spark, path, mk([(2, "z", 5)]), ["k"], "ts")
    rows = {r[0]: r[1] for r in cl.read_table(spark, path).collect()}
    assert rows == {11: None, 2: "z"}  # re-INSERTED by batch, not revived

    # compact applies + delists; vacuum reclaims the dv sidecars
    vc = cl.compact(spark, path)
    assert vc is not None
    assert cl._table_state(cl._read_commits(path, None)).dvs == []
    rows2 = {r[0]: r[1] for r in cl.read_table(spark, path).collect()}
    assert rows2 == rows
    doomed = cl.vacuum(path)
    assert any(d.startswith("dv/") for d in doomed)
    assert not os.path.isdir(os.path.join(path, "dv")) or not os.listdir(
        os.path.join(path, "dv"))
    assert {r[0] for r in cl.read_table(spark, path).collect()} == {2, 11}


def test_commit_log_merge_schema_evolution(spark, tmp_path):
    """merge_upsert(merge_schema=True) evolves-and-merges in one
    commit (Delta autoMerge): refusal without the flag, NULL fill for
    pass-through and pruned rows, time travel keeps the old shape,
    drops/retypes still refuse."""
    import pytest as _pytest

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "am")
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, p double, ts bigint")
    mkw = lambda rows: spark.createDataFrame(
        rows, "k bigint, p double, ts bigint, tag string")
    cl.create_table(spark, path, mk([(1, 1.0, 10), (2, 2.0, 10)]),
                    stats_cols=["k"])
    cl.append(spark, path, mk([(100, 3.0, 10)]), stats_cols=["k"])

    batch = mkw([(2, 9.0, 20, "b"), (3, 4.0, 20, "b")])
    with _pytest.raises(ValueError, match="merge_schema"):
        cl.merge_upsert(spark, path, batch, ["k"], "ts")
    v = cl.merge_upsert(spark, path, batch, ["k"], "ts", merge_schema=True)

    t = cl.read_table(spark, path)
    assert t.columns == ["k", "p", "ts", "tag"]
    rows = {r["k"]: (r["p"], r["tag"]) for r in t.collect()}
    # k=100 lives in a PRUNED pre-evolution directory -> NULL tag
    assert rows == {1: (1.0, None), 2: (9.0, "b"), 3: (4.0, "b"),
                    100: (3.0, None)}
    e = cl._read_commits(path, None)[-1]
    assert e["schema_evolved"] and e["pruned_dirs"] == 1
    # time travel keeps the pre-evolution shape
    assert cl.read_table(spark, path, v - 1).columns == ["k", "p", "ts"]
    # drops/retypes still refuse even with the flag
    bad = spark.createDataFrame([(1, "x", 10)], "k bigint, p string, ts bigint")
    with _pytest.raises(ValueError, match="retypes"):
        cl.merge_upsert(spark, path, bad, ["k"], "ts", merge_schema=True)


def test_commit_with_retry_bounded():
    """commit_with_retry: passes results through, rebases via re-call
    on ConcurrentWriteError, and re-raises after the attempt cap
    instead of spinning."""
    import pytest as _pytest

    from sora_spark.sources import commit_log as cl

    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise cl.ConcurrentWriteError("lost the claim")
        return 42

    assert cl.commit_with_retry(flaky, attempts=5, backoff=0.001) == 42
    assert calls["n"] == 3

    def always():
        raise cl.ConcurrentWriteError("never wins")

    with _pytest.raises(cl.ConcurrentWriteError):
        cl.commit_with_retry(always, attempts=2, backoff=0.001)


def test_commit_log_vacuum_shell_cleanup(spark, tmp_path):
    """r11 advisory: after vacuum reclaims every _bucket= relpath of a
    clustered compact, the parent shell (holding only Spark's
    _SUCCESS/.crc markers) is stripped and removed too — no permanent
    empty-directory leak."""
    import os

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "shell")
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, v bigint")
    cl.create_table(spark, path, mk([(i, i) for i in range(40)]),
                    stats_cols=["k"])
    cl.compact(spark, path, target_partitions=3, cluster_by=["k"])
    shells = [d for d in os.listdir(os.path.join(path, "data"))]
    # a second compact delists the clustered buckets...
    cl.compact(spark, path, target_partitions=1)
    cl.vacuum(path)
    left = set(os.listdir(os.path.join(path, "data")))
    # ...and vacuum must remove the clustered write's shell entirely
    live = set(
        d.split("/", 2)[1]
        for d in cl._table_state(cl._read_commits(path, None)).live)
    assert left == live, (left, live, shells)
    assert cl.read_table(spark, path).count() == 40


def test_commit_log_two_process_race(spark, tmp_path):
    """r11 verdict item 3: two REAL processes (separate Python+JVM,
    subprocess) race txn_append commits against one table, each
    wrapped in commit_with_retry. The os.link claim must give every
    version exactly one winner; losers rebase and retry; the final
    table equals the serial union and both apps' txn watermarks are
    complete — the optimistic-concurrency protocol the module
    documents, executed for real across process boundaries."""
    import os
    import subprocess
    import sys
    import textwrap

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "race")
    go = str(tmp_path / "go")
    mk = lambda rows: spark.createDataFrame(rows, "k bigint")
    cl.create_table(spark, path, mk([(-1,)]))

    script = textwrap.dedent(
        """
        import os, sys, time
        path, app, lo, go = sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4]
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false").getOrCreate())
        from sora_spark.sources import commit_log as cl
        # barrier: both workers start committing at the same instant
        while not os.path.exists(go):
            time.sleep(0.02)
        for i in range(4):
            df = spark.range(lo + i * 10, lo + i * 10 + 10).selectExpr("id AS k")
            cl.commit_with_retry(
                lambda: cl.txn_append(spark, path, df, app, i))
        spark.stop()
        """
    )
    env = dict(os.environ, PYTHONPATH=os.getcwd())
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, path, app, str(lo), go],
            env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        )
        for app, lo in (("alpha", 0), ("beta", 1000))
    ]
    open(go, "w").close()
    for p in procs:
        _, err = p.communicate(timeout=420)
        assert p.returncode == 0, err.decode()[-2000:]

    # one winner per version, no gaps: 1 (create) + 8 txn commits
    assert cl.table_versions(path) == list(range(1, 10))
    # both watermarks complete — no epoch lost to a race
    assert cl.latest_txn_version(path, "alpha") == 3
    assert cl.latest_txn_version(path, "beta") == 3
    # final content = the serial schedule's union
    got = sorted(r[0] for r in cl.read_table(spark, path).collect())
    want = sorted([-1] + list(range(0, 40)) + list(range(1000, 1040)))
    assert got == want


def test_generated_columns(spark, tmp_path):
    """Generated columns (r13): writers fill an omitted generated
    column and VALIDATE a supplied one (wrong value refuses the
    whole commit via the write gate); UPDATE on a source column
    re-derives the dependent (explicit SET on the generated column
    wins, then must pass the gate); rename/drop of the generated
    column or its sources refuses; checkpoint carries the map;
    timestamp-CDF argument validation; day-range stats prune a
    delete to the containing directory."""
    import datetime

    import pytest as _pytest

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    mk = lambda rows, sch="k bigint, ts timestamp": \
        spark.createDataFrame(rows, sch)
    d = lambda s: datetime.datetime.fromisoformat(s)
    cl.create_table(
        spark, path, mk([(1, d("2024-01-01T10:00")),
                         (2, d("2024-01-02T11:00"))]),
        stats_cols=["k", "day"],
        gen_cols={"day": "CAST(ts AS DATE)"})
    # create filled the omitted column
    got = {r["k"]: str(r["day"])
           for r in cl.read_table(spark, path).collect()}
    assert got == {1: "2024-01-01", 2: "2024-01-02"}
    # append without the column fills; with a WRONG value refuses
    cl.append(spark, path, mk([(3, d("2024-02-05T09:00"))]),
              stats_cols=["k", "day"])
    with _pytest.raises(cl.ConstraintViolationError):
        cl.append(
            spark, path,
            mk([(4, d("2024-02-06T09:00"), d("1999-01-01").date())],
               "k bigint, ts timestamp, day date"))
    # a CORRECT supplied value passes the gate
    cl.append(
        spark, path,
        mk([(4, d("2024-02-06T09:00"), d("2024-02-06").date())],
           "k bigint, ts timestamp, day date"))
    # UPDATE on the source re-derives the generated column
    cl.update_where(spark, path, "k = 1",
                    {"ts": "ts + INTERVAL 40 DAY"})
    row = {r["k"]: str(r["day"])
           for r in cl.read_table(spark, path).collect()}
    assert row[1] == "2024-02-10", row
    # DV-mode UPDATE path re-derives too
    cl.update_where(spark, path, "k = 2",
                    {"ts": "ts + INTERVAL 40 DAY"}, merge_on_read=True)
    row = {r["k"]: str(r["day"])
           for r in cl.read_table(spark, path).collect()}
    assert row[2] == "2024-02-11", row
    # rename/drop of the generated column or its source refuses
    for bad in ("day", "ts"):
        with _pytest.raises(ValueError, match="generated"):
            cl.rename_column(spark, path, bad, "x")
        with _pytest.raises(ValueError, match="generated"):
            cl.drop_column(spark, path, bad)
    # checkpoint carries the map: a post-checkpoint append still fills
    cl.checkpoint_log(path)
    cl.append(spark, path, mk([(5, d("2024-03-01T00:30"))]),
              stats_cols=["k", "day"])
    row = {r["k"]: str(r["day"])
           for r in cl.read_table(spark, path).collect()}
    assert row[5] == "2024-03-01"
    # day stats prune: delete on a Jan day touches only dirs that
    # contain it (the Feb/Mar dirs stay listed unread)
    v = cl.delete_where(spark, path, "day = DATE'2024-02-05'")
    e = cl._read_commits(path, v)[-1]
    assert e["pruned_dirs"] >= 2, e
    # timestamp-CDF argument validation (qup34's machinery)
    with _pytest.raises(ValueError, match="exactly one"):
        cl.table_changes(spark, path, v_from=1, ts_from=1.0,
                         v_to=2, key_cols=["k"])
    with _pytest.raises(ValueError, match="key_cols"):
        cl.table_changes(spark, path, v_from=1, v_to=2)


def test_bloom_dir_stats(spark, tmp_path):
    """Per-directory bloom filters (r13): on an interleaved layout
    where range stats prune nothing, a point-key merge prunes every
    directory no batch key can inhabit; directories holding batch
    keys are NEVER falsely pruned; an all-new-keys batch becomes a
    pure insert (zero rewrites); blooms survive merge and compact
    rewrites (the stats-erosion discipline)."""
    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    mk = lambda ks: spark.createDataFrame(
        [(k, float(k), k) for k in ks], "k bigint, v double, ts bigint")
    keys = list(range(800))
    cl.create_table(spark, path, mk([k for k in keys if k % 8 == 0]),
                    stats_cols=["k"], bloom_cols=["k"])
    for res in range(1, 8):
        cl.append(spark, path, mk([k for k in keys if k % 8 == res]),
                  stats_cols=["k"])
    # every dir spans ~the full range: range stats prune nothing;
    # batch keys hit residues 0, 1, 2 only
    batch = spark.createDataFrame(
        [(0, -1.0, 99), (9, -1.0, 99), (18, -1.0, 99)],
        "k bigint, v double, ts bigint")
    v = cl.merge_upsert(spark, path, batch, ["k"], "ts")
    e = cl._read_commits(path, v)[-1]
    # at least the 5 bloom-only-prunable dirs minus any (fixed,
    # deterministic) false positives; never fewer than 3 touched
    assert e["pruned_dirs"] >= 4, e
    assert 3 <= len(e["removed"]) <= 4, e
    got = {r["k"]: r["v"] for r in cl.read_table(spark, path).collect()}
    assert got[0] == -1.0 and got[9] == -1.0 and got[18] == -1.0
    assert got[1] == 1.0 and len(got) == 800
    # the merge's rewrite re-records blooms (no erosion)
    st = cl._table_state(cl._read_commits(path, None)).stats
    rewritten = e["added"][0]
    assert "bloom" in st[rewritten]["k"], st[rewritten]
    # all-new-keys batch: every dir bloom-misses -> pure insert
    v2 = cl.merge_upsert(
        spark, path,
        spark.createDataFrame([(10_000, 0.0, 1)],
                              "k bigint, v double, ts bigint"),
        ["k"], "ts")
    e2 = cl._read_commits(path, v2)[-1]
    assert e2["removed"] == [], e2
    # compact inherits the bloom for the merged directory
    vc = cl.compact(spark, path)
    ec = cl._read_commits(path, vc)[-1]
    st = cl._table_state(cl._read_commits(path, None)).stats
    assert "bloom" in st[ec["added"][0]]["k"]
    assert cl.read_table(spark, path).count() == 801


def test_compact_small(spark, tmp_path):
    """compact_small (r13): only directories under the byte
    threshold are rewritten (big dirs stay LISTED, their relpaths
    unchanged); vectors aimed at selected dirs are applied
    physically while vectors aimed at unselected dirs survive as
    one residual sidecar; content is bit-identical; a second run is
    a no-op (one merged small dir < min_dirs); below-threshold
    count is a no-op too."""
    import os

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    mk = lambda lo, n: spark.range(lo, lo + n).selectExpr(
        "id AS k", "CAST(id * 2 AS DOUBLE) AS v")
    cl.create_table(spark, path, mk(0, 500), stats_cols=["k"])      # big
    cl.append(spark, path, mk(1000, 500), stats_cols=["k"])         # big
    for lo in (5000, 5010, 5020):                                   # small
        cl.append(spark, path, mk(lo, 2), stats_cols=["k"])
    # one vector spanning a big dir (k=7) and a small dir (k=5000)
    cl.delete_where(spark, path, "k IN (7, 5000)",
                    deletion_vectors=True)
    commits = cl._read_state_commits(path)
    live_before = cl._table_state(commits).live
    big = live_before[:2]
    small = live_before[2:]
    want = sorted(
        map(tuple, cl.read_table(spark, path).collect()))

    v = cl.compact_small(spark, path, max_dir_bytes=6000)
    e = cl._read_commits(path, v)[-1]
    assert sorted(e["removed"]) == sorted(small), e
    live_after = cl._table_state(cl._read_state_commits(path)).live
    assert set(big) <= set(live_after)            # big dirs untouched
    assert e["pruned_dirs"] == 2
    # the old vector is delisted; the residual targets ONLY big dirs
    assert e["dv_removed"]
    assert e.get("dv_rows") == 1                  # k=7 survives as DV
    resid = spark.read.parquet(
        *[f"{path}/{d}" for d in e["dv_added"]])
    dirs_hit = {
        r[0] for r in resid.selectExpr(
            "regexp_extract(_dv_file, '(data/v[0-9]{8}-[0-9a-f]+)', 1)"
        ).collect()
    }
    assert dirs_hit <= set(big), (dirs_hit, big)
    # content identical (k=5000's deletion was applied PHYSICALLY)
    got = sorted(map(tuple, cl.read_table(spark, path).collect()))
    assert got == want
    # second run: one merged small dir < min_dirs -> no-op
    assert cl.compact_small(spark, path, max_dir_bytes=6000) is None
    # absurdly low threshold: nothing qualifies -> no-op
    assert cl.compact_small(spark, path, max_dir_bytes=1) is None


def test_exists_default_backfill(spark, tmp_path):
    """ExistsDefault (r13): pre-evolution rows read the frozen
    default via the directory-version projection; evolution-batch
    NULLs stay NULL (written at the intro version, not before);
    time travel keeps the old shape; checkpoint and clone carry the
    map; rename re-keys it; restore across the evolution reverts
    it; drop removes it; predicates see backfilled values (a DV
    delete can match on the default); backfill without defaults
    refuses."""
    import pytest as _pytest

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    mk = lambda rows, sch="k bigint, s string": spark.createDataFrame(
        rows, sch)
    cl.create_table(spark, path, mk([(1, "a"), (2, "b")]))       # v1
    cl.append(spark, path, mk([(3, "c")]))                        # v2
    with _pytest.raises(ValueError, match="backfill"):
        cl.append(spark, path, mk([(9, "x")]), backfill=True)
    cl.append(                                                    # v3
        spark, path,
        mk([(4, "d", 40.0), (5, "e", None)],
           "k bigint, s string, p double"),
        merge_schema=True, defaults={"p": "-1.0"}, backfill=True)
    cl.append(spark, path, mk([(6, "f")]))                        # v4

    def rows():
        return {
            r["k"]: r["p"] for r in cl.read_table(spark, path).collect()
        }

    # pre-evolution -> default; explicit value kept; the evolution
    # batch's OWN NULL stays NULL; old-shape append -> write default
    assert rows() == {1: -1.0, 2: -1.0, 3: -1.0, 4: 40.0,
                      5: None, 6: -1.0}, rows()
    # time travel before the evolution keeps the 2-column shape
    assert cl.read_table(spark, path, version=2).columns == ["k", "s"]
    # checkpoint carries the map
    cl.checkpoint_log(path)
    assert rows()[1] == -1.0
    # predicates see the backfilled value: a DV delete matches on it
    cl.delete_where(spark, path, "p = -1.0 AND k = 3",
                    deletion_vectors=True)
    assert 3 not in rows()
    # clone serves the backfill too (source dir names keep versions)
    dst = str(tmp_path / "clone")
    cl.clone_table(spark, path, dst)
    assert {r["k"]: r["p"]
            for r in cl.read_table(spark, dst).collect()}[1] == -1.0
    # rename re-keys the map
    cl.rename_column(spark, path, "p", "q")
    assert {r["k"]: r["q"]
            for r in cl.read_table(spark, path).collect()}[2] == -1.0
    cl.rename_column(spark, path, "q", "p")
    # compact materializes; map becomes a no-op but reads are equal
    before = rows()
    cl.compact(spark, path)
    assert rows() == before
    # restore across the evolution reverts the map with the schema
    v = cl.restore_table(spark, path, 2)
    assert cl.read_table(spark, path).columns == ["k", "s"]
    assert cl._table_state(
        cl._read_state_commits(path)).meta["exists_defaults"] == {}
    assert v  # restored
    # drop removes the map (rebuild the evolved state first)
    path2 = str(tmp_path / "t2")
    cl.create_table(spark, path2, mk([(1, "a")]))
    cl.append(spark, path2,
              mk([(2, "b", 1.0)], "k bigint, s string, p double"),
              merge_schema=True, defaults={"p": "0.5"}, backfill=True)
    assert cl._table_state(
        cl._read_state_commits(path2)).meta["exists_defaults"]
    cl.drop_column(spark, path2, "p")
    assert cl._table_state(
        cl._read_state_commits(path2)).meta["exists_defaults"] == {}


def test_commit_log_conflict_matrix(spark, tmp_path):
    """r12 verdict item 3: the two-process race matrix beyond
    txn_append — merge vs compact, DV-delete vs compact (the
    vector's target directories disappear), and append vs ADD
    CONSTRAINT — each pair raced by two REAL processes (separate
    Python+JVM) against one table, wrapped in commit_with_retry.
    Invariants: one winner per version (contiguous log, no gaps);
    the final table equals SOME serial schedule of the pair; and the
    one genuinely unserializable pair (append of violating rows vs
    ADD CONSTRAINT) resolves to exactly ONE success — the loser is
    REJECTED (ConstraintViolationError via rebase re-validation /
    in-loop re-scan), never silently merged. The version-claim
    protocol forces any loser to re-run its whole closure against
    the winner's state, which is what makes the first two pairs
    serializable by construction; this test executes that claim for
    real across process boundaries."""
    import json as _json
    import os
    import subprocess
    import sys
    import textwrap

    from sora_spark.sources import commit_log as cl

    base = str(tmp_path)
    mk = lambda rows, sch: spark.createDataFrame(rows, sch)
    # t1: merge vs compact (3 dirs; batch updates k=1, inserts k=99)
    t1 = os.path.join(base, "t1")
    cl.create_table(spark, t1, mk([(1, "a", 10)], "k bigint, v string, ts bigint"), stats_cols=["k"])
    cl.append(spark, t1, mk([(2, "b", 10)], "k bigint, v string, ts bigint"), stats_cols=["k"])
    cl.append(spark, t1, mk([(3, "c", 10)], "k bigint, v string, ts bigint"), stats_cols=["k"])
    # t2: DV-delete vs compact (3 dirs, delete evens)
    t2 = os.path.join(base, "t2")
    cl.create_table(spark, t2, mk([(i, i) for i in range(10)], "k bigint, v bigint"))
    cl.append(spark, t2, mk([(i, i) for i in range(10, 20)], "k bigint, v bigint"))
    cl.append(spark, t2, mk([(i, i) for i in range(20, 30)], "k bigint, v bigint"))
    # t3: append(violating) vs ADD CONSTRAINT v < 100
    t3 = os.path.join(base, "t3")
    cl.create_table(spark, t3, mk([(1, 5)], "k bigint, v bigint"))
    # t4: merge vs merge, DISJOINT key ranges (r14 file-level rules:
    # the loser must REBASE, not error — both bare merges commit)
    t4 = os.path.join(base, "t4")
    cl.create_table(
        spark, t4,
        mk([(i, "a", 10) for i in range(1, 6)],
           "k bigint, v string, ts bigint"), stats_cols=["k"])
    cl.append(
        spark, t4,
        mk([(i, "a", 10) for i in range(100, 106)],
           "k bigint, v string, ts bigint"), stats_cols=["k"])
    # t5: merge vs merge, OVERLAPPING key (a genuine race must refuse
    # the loser; serial schedules legitimately let both commit)
    t5 = os.path.join(base, "t5")
    cl.create_table(
        spark, t5, mk([(1, "a", 10)], "k bigint, v string, ts bigint"),
        stats_cols=["k"])

    script = textwrap.dedent(
        """
        import json, os, sys, time
        base, role = sys.argv[1], sys.argv[2]
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false").getOrCreate())
        from sora_spark.sources import commit_log as cl
        other = "b" if role == "a" else "a"

        def barrier(k):
            open(os.path.join(base, f"ready-{role}-{k}"), "w").close()
            while not os.path.exists(os.path.join(base, f"ready-{other}-{k}")):
                time.sleep(0.01)

        out = {}
        mk = lambda rows, sch: spark.createDataFrame(rows, sch)
        # scenario 1: merge vs compact
        t1 = os.path.join(base, "t1")
        barrier(1)
        if role == "a":
            batch = mk([(1, "A", 20), (99, "N", 20)],
                       "k bigint, v string, ts bigint")
            out["s1"] = cl.commit_with_retry(
                lambda: cl.merge_upsert(spark, t1, batch, ["k"], "ts"))
        else:
            out["s1"] = cl.commit_with_retry(
                lambda: cl.compact(spark, t1, min_dirs=2))
        # scenario 2: DV-delete vs compact
        t2 = os.path.join(base, "t2")
        barrier(2)
        if role == "a":
            out["s2"] = cl.commit_with_retry(
                lambda: cl.delete_where(spark, t2, "k % 2 = 0",
                                        deletion_vectors=True))
        else:
            out["s2"] = cl.commit_with_retry(
                lambda: cl.compact(spark, t2, min_dirs=2))
        # scenario 3: append(violating) vs ADD CONSTRAINT
        t3 = os.path.join(base, "t3")
        barrier(3)
        try:
            if role == "a":
                out["s3"] = cl.commit_with_retry(
                    lambda: cl.append(
                        spark, t3, mk([(2, 500)], "k bigint, v bigint")))
            else:
                out["s3"] = cl.commit_with_retry(
                    lambda: cl.add_check_constraint(spark, t3, "v < 100"))
            out["s3_ok"] = True
        except cl.ConstraintViolationError as e:
            out["s3_ok"] = False
            out["s3_err"] = str(e)[:200]
        # scenario 4: merge vs merge, DISJOINT keys — run BARE (no
        # commit_with_retry) so a lost race must be absorbed by the
        # file-level REBASE, not by a full re-run
        t4 = os.path.join(base, "t4")
        sch = "k bigint, v string, ts bigint"
        b4 = mk([(1, "A", 20)] if role == "a" else [(100, "B", 20)], sch)
        barrier(4)
        try:
            out["s4"] = cl.merge_upsert(spark, t4, b4, ["k"], "ts")
            out["s4_ok"] = True
        except cl.ConcurrentWriteError as e:
            out["s4_ok"] = False
            out["s4_err"] = str(e)[:200]
        # scenario 5: merge vs merge, OVERLAPPING key — bare again; a
        # genuine race refuses the loser (ConcurrentAppend rule)
        t5 = os.path.join(base, "t5")
        b5 = mk([(1, role.upper(), 20)], sch)
        barrier(5)
        try:
            out["s5"] = cl.merge_upsert(spark, t5, b5, ["k"], "ts")
            out["s5_ok"] = True
        except cl.ConcurrentWriteError as e:
            out["s5_ok"] = False
            out["s5_err"] = str(e)[:200]
        with open(os.path.join(base, f"out-{role}.json"), "w") as f:
            json.dump(out, f)
        spark.stop()
        """
    )
    env = dict(os.environ, PYTHONPATH=os.getcwd())
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, base, role],
            env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        )
        for role in ("a", "b")
    ]
    outs = {}
    for p, role in zip(procs, ("a", "b")):
        _, err = p.communicate(timeout=420)
        assert p.returncode == 0, err.decode()[-3000:]
        with open(os.path.join(base, f"out-{role}.json")) as f:
            outs[role] = _json.load(f)

    # one winner per version, no gaps, on every table
    for t in (t1, t2, t3, t4, t5):
        vs = cl.table_versions(t)
        assert vs == list(range(1, len(vs) + 1)), (t, vs)

    # t1: both serial schedules end at the merged content
    got1 = sorted(map(tuple, cl.read_table(spark, t1).collect()))
    assert got1 == [(1, "A", 20), (2, "b", 10), (3, "c", 10),
                    (99, "N", 20)], got1
    # t2: evens deleted whatever the interleaving; no resurrections
    got2 = sorted(r[0] for r in cl.read_table(spark, t2).collect())
    assert got2 == [k for k in range(30) if k % 2 == 1], got2
    # t3: the unserializable pair resolves to exactly ONE winner
    a_ok, b_ok = outs["a"]["s3_ok"], outs["b"]["s3_ok"]
    assert a_ok != b_ok, (outs["a"], outs["b"])
    commits3 = cl._read_state_commits(t3)
    check = cl._table_state(commits3).meta["check"]
    rows3 = sorted(map(tuple, cl.read_table(spark, t3).collect()))
    if b_ok:   # constraint won: recorded, and no violating row exists
        assert check == "v < 100" and rows3 == [(1, 5)], (check, rows3)
    else:      # append won: rows in, constraint refused (never both)
        assert check is None and rows3 == [(1, 5), (2, 500)], (
            check, rows3)

    # t4: DISJOINT merges — BOTH bare merges must commit (a lost race
    # rebases in place; r14 file-level conflict rules), and both
    # updates are present
    assert outs["a"]["s4_ok"] and outs["b"]["s4_ok"], (
        outs["a"], outs["b"])
    got4 = {r["k"]: r["v"] for r in cl.read_table(spark, t4).collect()}
    assert got4[1] == "A" and got4[100] == "B", got4
    # t5: OVERLAPPING merges — a genuine race refuses exactly the
    # loser (ConcurrentAppend rule); if the schedule happened to
    # serialize (second merge read the first's commit), both commit
    # at distinct versions. Either way the final row is one writer's
    # value and the loser, if any, saw the descriptive refusal.
    a5, b5 = outs["a"]["s5_ok"], outs["b"]["s5_ok"]
    assert a5 or b5, (outs["a"], outs["b"])
    got5 = {r["k"]: r["v"] for r in cl.read_table(spark, t5).collect()}
    assert got5[1] in ("A", "B"), got5
    if a5 and b5:
        assert outs["a"]["s5"] != outs["b"]["s5"], (outs["a"], outs["b"])
    else:
        loser = "a" if not a5 else "b"
        assert "concurrent" in outs[loser]["s5_err"].lower(), outs[loser]


def test_append_rebase_revalidates_check(spark, tmp_path, monkeypatch):
    """Deterministic companion to the conflict-matrix race (which
    cannot force the interleaving): inject an ADD CONSTRAINT commit
    that steals the append's claimed version between its data write
    and its publish. The rebase must re-validate the already-written
    directory against the new CHECK — a violating batch is REJECTED
    (the unserializable schedule), a legal one rebases through."""
    import pytest as _pytest

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, v bigint")
    cl.create_table(spark, path, mk([(1, 5)]))

    real_publish = cl._publish
    state = {"arm": False}

    def racing_publish(p, entry):
        if state["arm"] and entry.get("operation") == "append":
            state["arm"] = False
            real_publish(p, {
                "version": entry["version"],
                "operation": "add_constraint",
                "added": [], "removed": [], "check": "v < 100",
            })
        return real_publish(p, entry)

    monkeypatch.setattr(cl, "_publish", racing_publish)
    state["arm"] = True
    with _pytest.raises(cl.ConstraintViolationError, match="concurrent"):
        cl.append(spark, path, mk([(2, 500)]))
    # the losing batch's directory was never committed
    assert sorted(map(tuple, cl.read_table(spark, path).collect())) \
        == [(1, 5)]
    cl.drop_check_constraint(spark, path)
    # a LEGAL batch rebases straight through the same interleaving
    state["arm"] = True
    cl.append(spark, path, mk([(3, 50)]))
    assert sorted(map(tuple, cl.read_table(spark, path).collect())) \
        == [(1, 5), (3, 50)]
    assert cl._table_state(
        cl._read_state_commits(path)).meta["check"] == "v < 100"


def test_append_rebase_check_missing_column(spark, tmp_path):
    """r14 (r13 advice, low): a CHECK added concurrently may bind a
    column the in-flight batch's directory does not carry (the batch
    predates a column evolution). _revalidate_dir must refuse with a
    descriptive ConstraintViolationError instead of letting F.expr
    raise AnalysisException mid-rebase. Direct unit pin on the
    re-validation helper (the racing interleaving is covered by
    test_append_rebase_revalidates_check)."""
    import pytest as _pytest

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    mk2 = lambda rows: spark.createDataFrame(rows, "k bigint, v bigint")
    cl.create_table(spark, path, mk2([(1, 5)]))
    cl.append(
        spark, path,
        spark.createDataFrame([(2, 6, 7)], "k bigint, v bigint, w bigint"),
        merge_schema=True,
    )
    commits = cl._read_state_commits(path)
    # the v1 directory physically lacks `w`
    rel_v1 = commits[0]["added"][0]
    with _pytest.raises(cl.ConstraintViolationError,
                        match="does not carry"):
        cl._revalidate_dir(spark, path, rel_v1, "w > 0", commits)
    # a check over columns the dir HAS still validates normally
    cl._revalidate_dir(spark, path, rel_v1, "v < 100", commits)
    with _pytest.raises(cl.ConstraintViolationError, match="violates"):
        cl._revalidate_dir(spark, path, rel_v1, "v > 100", commits)


def test_data_change_file_conflict_rules(spark, tmp_path, monkeypatch):
    """r14 (r13 verdict item 3): merge/delete/update resolve lost
    races with Delta-style FILE-LEVEL conflict detection instead of
    an unconditional full re-run. Deterministic injection (the
    test_append_rebase_revalidates_check harness): a racing commit
    steals the op's claimed version between its data write and its
    publish. Rules under test:

    - winner is a DISJOINT append (stats-provable or scan-verified):
      the op REBASES IN PLACE — no error, no re-read/re-write of the
      delta, both commits land, directory names re-homed to the
      claimed version;
    - winner added rows the op SHOULD have seen (overlapping merge
      keys / matching delete predicate): REFUSE with a descriptive
      ConcurrentWriteError (Delta's ConcurrentAppendException), and
      commit_with_retry's full re-run then produces the serial
      result;
    - winner added deletion vectors: REFUSE (sub-directory liveness);
    - winner changed metadata (CHECK): REFUSE;
    - a log checkpoint written during the race is no winner: the op
      still rebases over the real commits after its snapshot."""
    import pytest as _pytest

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    mk = lambda rows: spark.createDataFrame(
        rows, "k bigint, v string, ts bigint")
    cl.create_table(spark, path, mk([(i, "a", 10) for i in range(1, 6)]),
                    stats_cols=["k"])
    cl.append(spark, path, mk([(i, "b", 10) for i in range(100, 106)]),
              stats_cols=["k"])

    real_publish = cl._publish
    state: dict = {"inject": None}

    def racing_publish(p, entry):
        inj = state["inject"]
        if inj is not None and entry.get("operation") in (
                "merge_upsert", "delete", "delete_dv", "update"):
            state["inject"] = None
            inj()
        return real_publish(p, entry)

    monkeypatch.setattr(cl, "_publish", racing_publish)

    # 1) merge rebases over a stats-DISJOINT append: no error, both
    #    commits land, merged content + appended rows both read back
    state["inject"] = lambda: cl.append(
        spark, path, mk([(i, "n", 10) for i in range(1000, 1006)]),
        stats_cols=["k"])
    v = cl.merge_upsert(
        spark, path, mk([(1, "A", 20), (999, "I", 20)]), ["k"], "ts")
    vs = cl.table_versions(path)
    assert v == vs[-1] and vs == list(range(1, len(vs) + 1))
    rows = {r["k"]: r["v"] for r in cl.read_table(spark, path).collect()}
    assert rows[1] == "A" and rows[999] == "I" and rows[1000] == "n"
    # the rebased merge's directory was re-homed to its final version
    entry = cl._read_state_commits(path)[-1]
    assert entry["operation"] == "merge_upsert"
    assert entry["added"][0].startswith(f"data/v{v:08d}-"), entry["added"]

    # 2) merge REFUSES when the winner appended an overlapping key
    #    (stats overlap -> scan finds the key): descriptive error,
    #    nothing committed by the loser
    state["inject"] = lambda: cl.append(
        spark, path, mk([(2, "w", 30)]), stats_cols=["k"])
    with _pytest.raises(cl.ConcurrentWriteError, match="should have"):
        cl.merge_upsert(spark, path, mk([(2, "B", 40)]), ["k"], "ts")
    # ...and the standard wrapper resolves it serially: re-run merges
    # over the winner's row
    assert state["inject"] is None  # the race really fired
    cl.commit_with_retry(
        lambda: cl.merge_upsert(spark, path, mk([(2, "B", 40)]),
                                ["k"], "ts"))
    rows = {r["k"]: r["v"] for r in cl.read_table(spark, path).collect()}
    assert rows[2] == "B"

    # 3) delete rebases over a non-matching append, refuses on a
    #    matching one
    state["inject"] = lambda: cl.append(
        spark, path, mk([(5000, "z", 10)]), stats_cols=["k"])
    assert cl.delete_where(spark, path, "k = 1000") is not None
    assert 1000 not in {
        r["k"] for r in cl.read_table(spark, path).collect()}
    state["inject"] = lambda: cl.append(
        spark, path, mk([(7777, "m", 10)]), stats_cols=["k"])
    # k=100 exists (the publish happens), and the winner's appended
    # k=7777 row ALSO matches — the scan must find it and refuse
    with _pytest.raises(cl.ConcurrentWriteError, match="should have"):
        cl.delete_where(spark, path, "k IN (100, 7777)")

    # 4) a winner that added DELETION VECTORS refuses the rebase
    state["inject"] = lambda: cl.delete_where(
        spark, path, "k = 101", deletion_vectors=True)
    with _pytest.raises(cl.ConcurrentWriteError, match="deletion"):
        cl.merge_upsert(spark, path, mk([(9000, "q", 50)]), ["k"], "ts")

    # 5) a winner that changed table METADATA (CHECK) refuses
    state["inject"] = lambda: cl.add_check_constraint(
        spark, path, "ts < 1000")
    with _pytest.raises(cl.ConcurrentWriteError, match="metadata"):
        cl.merge_upsert(spark, path, mk([(9001, "q", 50)]), ["k"], "ts")

    # 6) the winner is a disjoint append followed by a log checkpoint,
    #    whose synthetic commit lists every live directory and the
    #    live vector from 4): the merge rebases over the append alone
    def append_then_checkpoint():
        cl.append(spark, path, mk([(i, "c", 10) for i in range(2000, 2006)]),
                  stats_cols=["k"])
        cl.checkpoint_log(path)

    state["inject"] = append_then_checkpoint
    v = cl.merge_upsert(spark, path, mk([(1, "C", 60)]), ["k"], "ts")
    assert state["inject"] is None  # the race really fired
    assert v == cl.table_versions(path)[-1]
    rows = {r["k"]: r["v"] for r in cl.read_table(spark, path).collect()}
    assert rows[1] == "C" and rows[2000] == "c"


def test_rename_drop_guard_default_bodies(spark, tmp_path):
    """r14 (r13 advice, low): rename/drop re-key the defaults /
    exists_defaults map KEYS but a default EXPRESSION that references
    another column would dangle after that column is renamed or
    dropped — the same conservative word-match refusal as CHECK and
    generated expressions must cover the bodies too."""
    import pytest as _pytest

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    cl.create_table(
        spark, path, spark.createDataFrame([(1, 5)], "k bigint, v bigint"))
    cl.append(
        spark, path,
        spark.createDataFrame([(2, 6, 3)], "k bigint, v bigint, w bigint"),
        merge_schema=True, defaults={"w": "k + 1"}, backfill=True,
    )
    # the body of w's default references k: renaming or dropping k
    # must refuse (the expression text would go stale)
    with _pytest.raises(ValueError, match="default"):
        cl.rename_column(spark, path, "k", "kk")
    with _pytest.raises(ValueError, match="default"):
        cl.drop_column(spark, path, "k")
    # renaming/dropping an UNINVOLVED column still works, and the
    # defaulted column itself can be renamed (its map key re-keys)
    cl.rename_column(spark, path, "v", "vv")
    cl.rename_column(spark, path, "w", "ww")
    commits = cl._read_state_commits(path)
    assert "ww" in cl._table_state(commits).meta["defaults"]
    assert "ww" in cl._table_state(commits).meta["exists_defaults"]
    # write-default still fills through the re-keyed name
    cl.append(spark, path,
              spark.createDataFrame([(9, 9)], "k bigint, vv bigint"))
    rows = {r["k"]: r["ww"]
            for r in cl.read_table(spark, path).collect()}
    assert rows[9] == 10


def test_commit_log_update_where(spark, tmp_path):
    """UPDATE rewrites only directories containing matched rows
    (commit-pinned pruning), casts assignments back to the column
    type (schema can never drift), leaves NULL-condition rows
    unchanged, respects live DVs, and refuses unknown columns."""
    import pytest as _pytest

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "u")
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, s string, p double")
    cl.create_table(spark, path, mk([(1, "a", 1.0), (2, "b", 2.0)]),
                    stats_cols=["k"])
    cl.append(spark, path, mk([(10, "a", 3.0)]), stats_cols=["k"])
    cl.append(spark, path, mk([(20, "c", 4.0), (21, None, 5.0)]),
              stats_cols=["k"])

    v = cl.update_where(spark, path, "s = 'a'",
                        {"p": "p * 10", "s": "'A'"})
    e = cl._read_commits(path, None)[-1]
    assert e["operation"] == "update"
    assert len(e["removed"]) == 2 and e["pruned_dirs"] == 1
    got = sorted(map(tuple, cl.read_table(spark, path).collect()), key=str)
    assert got == sorted(
        [(1, "A", 10.0), (2, "b", 2.0), (10, "A", 30.0),
         (20, "c", 4.0), (21, None, 5.0)], key=str)
    # NULL-condition rows (s IS NULL) stay unchanged under a predicate
    cl.update_where(spark, path, F.col("s") < "b", {"p": "0.0"})
    rows = {r[0]: r[2] for r in cl.read_table(spark, path).collect()}
    assert rows[21] == 5.0 and rows[1] == 0.0  # NULL kept, 'A' updated
    # schema cannot drift: int expr cast back to double
    cl.update_where(spark, path, "k = 2", {"p": "7"})
    t = cl.read_table(spark, path)
    assert dict(t.dtypes)["p"] == "double"
    assert {r[0]: r[2] for r in t.collect()}[2] == 7.0
    # unknown column refuses
    with _pytest.raises(ValueError, match="unknown column"):
        cl.update_where(spark, path, "k = 1", {"nope": "1"})
    # no match -> no commit
    n = len(cl.table_versions(path))
    assert cl.update_where(spark, path, "k = 999", {"p": "0"}) is None
    assert len(cl.table_versions(path)) == n
    # a DV-deleted row can't match an update
    cl.delete_where(spark, path, "k = 20", deletion_vectors=True)
    assert cl.update_where(spark, path, "k = 20", {"p": "1.0"}) is None
    # time travel still serves the pre-update state
    assert {r[2] for r in cl.read_table(spark, path, 3).collect()} == \
        {1.0, 2.0, 3.0, 4.0, 5.0}


def test_commit_log_restore(spark, tmp_path):
    """RESTORE reconstructs a prior version's live set (data + DVs +
    schema) as a NEW commit — history intact, rollback
    time-travelable — and refuses when vacuum already reclaimed a
    needed directory."""
    import pytest as _pytest

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "r")
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, p double, ts bigint")
    cl.create_table(spark, path, mk([(1, 1.0, 10), (2, 2.0, 10)]))
    cl.delete_where(spark, path, "k = 1", deletion_vectors=True)  # v2
    cl.merge_upsert(spark, path, mk([(3, 3.0, 20)]), ["k"], "ts")  # v3
    # restore to v2: the DV must come back too (k=1 stays deleted)
    v = cl.restore_table(spark, path, 2)
    got = {r[0] for r in cl.read_table(spark, path).collect()}
    assert got == {2}
    # restore to v1: full original
    cl.restore_table(spark, path, 1)
    assert {r[0] for r in cl.read_table(spark, path).collect()} == {1, 2}
    # rollbacks are themselves history: travel back to the v2-restore
    assert {r[0] for r in cl.read_table(spark, path, v).collect()} == {2}
    # schema evolution rolls back shape too
    wide = spark.createDataFrame([(9, 9.0, 30, "t")],
                                 "k bigint, p double, ts bigint, tag string")
    cl.append(spark, path, wide, merge_schema=True)
    assert "tag" in cl.read_table(spark, path).columns
    cl.restore_table(spark, path, 1)
    assert cl.read_table(spark, path).columns == ["k", "p", "ts"]
    # vacuum, then restoring to a reclaimed version refuses
    cl.vacuum(path)
    with _pytest.raises(ValueError, match="vacuumed"):
        cl.restore_table(spark, path, 3)


def test_commit_log_clone_independence(spark, tmp_path):
    """Shallow clone: zero-copy (hard links — inode-identical files),
    inherits schema/CHECK/stats/DVs; afterwards the two histories are
    independent — each side mutates and vacuums without reaching the
    other; cloning onto an existing table refuses."""
    import os

    import pytest as _pytest

    from sora_spark.sources import commit_log as cl

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, p double, ts bigint")
    cl.create_table(spark, src, mk([(1, 1.0, 10), (2, 2.0, 10)]),
                    stats_cols=["k"], check="p >= 0")
    cl.delete_where(spark, src, "k = 1", deletion_vectors=True)
    cl.clone_table(spark, src, dst)

    # zero-copy: every cloned data file shares its inode with the source
    for rel in cl._table_state(cl._read_commits(dst, None)).live:
        for f in os.listdir(os.path.join(dst, rel)):
            s, d_ = os.path.join(src, rel, f), os.path.join(dst, rel, f)
            if os.path.isfile(d_) and os.path.exists(s):
                assert os.stat(s).st_ino == os.stat(d_).st_ino
    # inherited state: DV applied, CHECK enforced, stats present
    assert {r[0] for r in cl.read_table(spark, dst).collect()} == {2}
    with _pytest.raises(cl.ConstraintViolationError):
        cl.append(spark, dst, mk([(5, -1.0, 10)]))
    assert any(cl._table_state(cl._read_commits(dst, None)).stats.values())
    # independence both ways: mutate + vacuum each side
    cl.merge_upsert(spark, src, mk([(7, 7.0, 20)]), ["k"], "ts")
    cl.vacuum(src)
    cl.merge_upsert(spark, dst, mk([(8, 8.0, 20)]), ["k"], "ts")
    cl.vacuum(dst)
    assert {r[0] for r in cl.read_table(spark, src).collect()} == {2, 7}
    assert {r[0] for r in cl.read_table(spark, dst).collect()} == {2, 8}
    # refuse cloning onto an existing table
    with _pytest.raises(ValueError, match="already has a commit log"):
        cl.clone_table(spark, src, dst)


def test_commit_log_checkpoint(spark, tmp_path):
    """Log checkpoints (r12): state resolves as checkpoint + tail —
    identical reads, working writers/watermarks/CHECK through the
    synthetic commit, O(tail) fold length — while historical paths
    (time travel, history, vacuum's ever-set, restore) keep reading
    the raw per-commit files; a torn checkpoint file falls back to
    the full fold."""
    import os

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "ck")
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, p double, ts bigint")
    cl.create_table(spark, path, mk([(1, 1.0, 10), (2, 2.0, 10)]),
                    stats_cols=["k"], check="p >= 0")
    cl.append(spark, path, mk([(3, 3.0, 10)]), stats_cols=["k"])
    cl.delete_where(spark, path, "k = 2", deletion_vectors=True)
    cl.txn_append(spark, path, mk([(4, 4.0, 10)]), "app", 7,
                  stats_cols=["k"])
    pre = sorted(map(tuple, cl.read_table(spark, path).collect()))

    v = cl.checkpoint_log(path)
    assert v == 4
    sc = cl._read_state_commits(path)
    assert sc[0]["operation"] == "checkpoint" and len(sc) == 1  # O(tail)
    assert sorted(map(tuple, cl.read_table(spark, path).collect())) == pre
    # folds through the synthetic commit
    assert cl.latest_txn_version(path, "app") == 7
    assert cl._table_state(sc).meta["check"] == "p >= 0"
    assert any(cl._table_state(sc).stats.values())
    # writers proceed from the checkpointed state
    cl.merge_upsert(spark, path, mk([(1, 9.0, 20)]), ["k"], "ts")
    cl.update_where(spark, path, "k = 3", {"p": "33.0"})
    rows = {r[0]: r[1] for r in cl.read_table(spark, path).collect()}
    assert rows == {1: 9.0, 3: 33.0, 4: 4.0}  # k=2 stays DV-deleted
    # historical paths unaffected
    assert cl.read_table(spark, path, 2).count() == 3
    assert cl.history(spark, path).count() == 6
    # torn checkpoint -> silent full-fold fallback
    v2 = cl.checkpoint_log(path)
    with open(os.path.join(path, "_commits", f"{v2:08d}.ckpt.json"),
              "w") as f:
        f.write("{torn")
    assert {r[0]: r[1] for r in cl.read_table(spark, path).collect()} == rows
    # a fresh checkpoint supersedes the torn one
    v3 = cl.checkpoint_log(path)
    assert v3 == v2
    assert len(cl._read_state_commits(path)) == 1
    assert {r[0]: r[1] for r in cl.read_table(spark, path).collect()} == rows


def test_commit_log_zorder_compact(spark, tmp_path):
    """Z-ordered OPTIMIZE (r12): on an independent 2-D grid,
    lexicographic clustering gives the second column no locality (a
    narrow second-dimension delete touches most buckets) while the
    Morton layout keeps both dimensions boxed (same delete touches
    few); values identical between layouts; non-2-column zorder
    refuses."""
    import pytest as _pytest

    from sora_spark.sources import commit_log as cl

    df = spark.range(10000).select(
        (F.col("id") % 100).alias("k"),
        (F.col("id") / 100).cast("long").alias("dd"),
        (F.col("id") % 7).cast("double").alias("p"),
    )

    def build(path, **kw):
        cl.create_table(spark, path, df, stats_cols=["k", "dd"])
        cl.compact(spark, path, target_partitions=16,
                   cluster_by=["k", "dd"], **kw)
        return path

    lex = build(str(tmp_path / "lex"))
    zo = build(str(tmp_path / "zo"), zorder=True)

    def touched_by(path, cond):
        v = cl.delete_where(spark, path, cond)
        if v is None:
            return 0
        e = cl._read_commits(path, None)[-1]
        cl.restore_table(spark, path, v - 1)  # undo for the next probe
        return len(e["removed"])

    lex_d = touched_by(lex, "dd >= 40 AND dd < 50")
    zo_d = touched_by(zo, "dd >= 40 AND dd < 50")
    assert zo_d < lex_d and zo_d <= 8, (zo_d, lex_d)
    # the Z entry records its layout
    ops = [c for c in cl._read_commits(zo, None)
           if c.get("operation") == "optimize"]
    assert ops[0].get("zorder") is True
    # values identical between layouts
    a = sorted(map(tuple, cl.read_table(spark, lex).collect()))
    b = sorted(map(tuple, cl.read_table(spark, zo).collect()))
    assert a == b and len(a) == 10000
    with _pytest.raises(ValueError, match="at least two"):
        cl.compact(spark, zo, target_partitions=4,
                   cluster_by=["k"], zorder=True)


def test_commit_log_vacuum_dry_run_and_retention(spark, tmp_path):
    """r12: dry_run reports reclaimable dirs without touching the
    filesystem; retain_seconds widens the window by publish time so a
    recent snapshot survives keep_versions=1, and retain_seconds=0
    restores the pure version-window behavior."""
    import os

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "v")
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, ts bigint")
    cl.create_table(spark, path, mk([(1, 1)]))
    cl.merge_upsert(spark, path, mk([(1, 2)]), ["k"], "ts")  # delists v1
    would = cl.vacuum(path, dry_run=True)
    assert would, "v1's directory should be reclaimable"
    for rel in would:
        assert os.path.isdir(os.path.join(path, rel)), "dry_run deleted!"
    # every commit here is seconds old: a 1-hour retention keeps all
    assert cl.vacuum(path, retain_seconds=3600) == []
    assert cl.read_table(spark, path, 1).count() == 1  # still travels
    # zero retention = pure version window: now it reclaims
    gone = cl.vacuum(path, retain_seconds=0)
    assert sorted(gone) == sorted(would)
    assert {r[0] for r in cl.read_table(spark, path).collect()} == {1}


def test_bloom_filter_properties(spark):
    """Portable Bloom (r12): NO false negatives ever; false-positive
    rate near the (1-e^{-kn/m})^k theory; two filters over disjoint
    sets merge by bitwise OR into exactly the union's filter (the
    mergeable-summary property, HLL's max analog)."""
    import math

    from pyspark.sql import functions as F

    from sora_spark.operators import sketch

    vals = spark.range(4000).select(
        F.concat(F.lit("v"), F.col("id")).alias("s"))
    members = spark.range(500).select(
        F.concat(F.lit("v"), F.col("id")).alias("s"))
    words = sketch.bloom_bitmap(members, "s", m_bits=4096, k=3)

    probed = vals.select(
        "s", sketch.bloom_probe_col("s", words, k=3).alias("hit"))
    rows = {r["s"]: r["hit"] for r in probed.collect()}
    # no false negatives
    assert all(rows[f"v{i}"] for i in range(500))
    # false-positive rate near theory (n=500, m=4096, k=3 -> ~2.4%)
    fp = sum(1 for i in range(500, 4000) if rows[f"v{i}"])
    theory = (1 - math.exp(-3 * 500 / 4096)) ** 3
    assert fp / 3500 < 5 * theory, (fp / 3500, theory)

    # mergeable: OR of two disjoint filters == filter of the union
    a = spark.range(0, 250).select(F.concat(F.lit("v"), F.col("id")).alias("s"))
    b = spark.range(250, 500).select(F.concat(F.lit("v"), F.col("id")).alias("s"))
    wa = sketch.bloom_bitmap(a, "s", m_bits=4096, k=3)
    wb = sketch.bloom_bitmap(b, "s", m_bits=4096, k=3)
    merged = [x | y for x, y in zip(wa, wb)]
    assert merged == words

    import pytest as _pytest
    with _pytest.raises(ValueError, match="multiple of 64"):
        sketch.bloom_bitmap(members, "s", m_bits=1000)


def test_cms_properties(spark):
    """Portable CMS (r12): estimates never under-count; every
    estimate within the 2N/width envelope here; sketches over
    disjoint data merge by elementwise SUM into exactly the union's
    sketch (the one-pass distributed property)."""
    from pyspark.sql import functions as F

    from sora_spark.operators import sketch

    # skewed frequencies: key k appears k times, k = 1..40 (N = 820)
    data = spark.range(1, 41).select(
        F.explode(F.sequence(F.lit(1), F.col("id"))).alias("rep"),
        F.col("id").alias("k"),
    ).select("k")
    grid = sketch.cms_table(data, "k", width=64, depth=4)
    probes = spark.range(1, 41).select(F.col("id").alias("k"))
    est = {
        int(r["key"]): int(r["estimate"])
        for r in sketch.cms_point_estimates(
            probes, "k", grid, width=64, depth=4).collect()
    }
    n = 820
    for k in range(1, 41):
        assert est[k] >= k, (k, est[k])          # never under
        assert est[k] <= k + 2 * n // 64 + 1, (k, est[k])  # envelope
    # mergeable: SUM of two disjoint sketches == sketch of the union
    a = data.filter("k <= 20")
    b = data.filter("k > 20")
    ga = sketch.cms_table(a, "k", width=64, depth=4)
    gb = sketch.cms_table(b, "k", width=64, depth=4)
    summed = (
        ga.withColumnRenamed("c", "ca")
        .join(gb.withColumnRenamed("c", "cb"), ["i", "j"])
        .select("i", "j", (F.col("ca") + F.col("cb")).alias("c"))
    )
    full = {(r["i"], r["j"]): r["c"] for r in grid.collect()}
    got = {(r["i"], r["j"]): r["c"] for r in summed.collect()}
    assert got == full


def test_commit_log_change_data_feed(spark, tmp_path):
    """CDF (r12): non-CDF tables refuse readChangeFeed loudly;
    optimize commits are skipped (layout-only); checkpoint resume
    delivers only new changes; vacuum keeps cdc sidecars of the
    retained version window and reclaims older ones."""
    import os

    import pytest as _pytest

    from sora_spark.sources import commit_log as cl
    from sora_spark.sources import commit_log_stream as cls_

    cls_.register(spark)
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, p double, ts bigint")

    def run(path, out, ck):
        q = (
            spark.readStream.format("commitlog").option("path", path)
            .option("readChangeFeed", "true").load()
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    # non-CDF table: loud refusal at the change commit
    p0 = str(tmp_path / "nocdf")
    cl.create_table(spark, p0, mk([(1, 1.0, 10)]))
    cl.merge_upsert(spark, p0, mk([(1, 2.0, 20)]), ["k"], "ts")
    with _pytest.raises(Exception, match="change_data_feed"):
        run(p0, str(tmp_path / "o0"), str(tmp_path / "c0"))

    # CDF lifecycle with an optimize in the middle (skipped) and a
    # checkpoint resume
    p1 = str(tmp_path / "cdf")
    out, ck = str(tmp_path / "o1"), str(tmp_path / "c1")
    cl.create_table(spark, p1, mk([(1, 1.0, 10), (2, 2.0, 10)]),
                    change_data_feed=True)
    cl.append(spark, p1, mk([(3, 3.0, 10)]))
    cl.compact(spark, p1)                       # layout-only: no feed
    cl.merge_upsert(spark, p1, mk([(2, 9.0, 20), (4, 4.0, 20)]),
                    ["k"], "ts")
    run(p1, out, ck)
    feed = sorted(
        map(tuple, spark.read.parquet(out)
            .select("_commit_version", "_change_type", "k", "p")
            .collect()))
    assert feed == sorted([
        (1, "insert", 1, 1.0), (1, "insert", 2, 2.0),
        (2, "insert", 3, 3.0),
        (4, "update_preimage", 2, 2.0), (4, "update_postimage", 2, 9.0),
        (4, "insert", 4, 4.0),
    ]), feed
    # resume: only the new delete arrives
    cl.delete_where(spark, p1, "k = 1", deletion_vectors=True)
    run(p1, out, ck)
    feed2 = sorted(
        map(tuple, spark.read.parquet(out)
            .select("_commit_version", "_change_type", "k", "p")
            .collect()))
    assert len(feed2) == len(feed) + 1
    assert (5, "delete", 1, 1.0) in feed2
    # updates flow as the Delta-complete pre/post pair
    cl.update_where(spark, p1, "k = 3", {"p": "30.0"})
    run(p1, out, ck)
    feed3 = sorted(
        map(tuple, spark.read.parquet(out)
            .select("_commit_version", "_change_type", "k", "p")
            .collect()))
    assert (6, "update_preimage", 3, 3.0) in feed3
    assert (6, "update_postimage", 3, 30.0) in feed3

    # vacuum: cdc of versions outside the kept window is reclaimed,
    # inside it kept
    cdc_all = []
    for c in cl._read_commits(p1, None):
        cdc_all.extend(c.get("cdc", []))
    assert cdc_all
    gone = cl.vacuum(p1, keep_versions=2)
    still = [d for d in cdc_all
             if os.path.isdir(os.path.join(p1, d))]
    # version 6 (update) is within the kept window -> its cdc stays
    assert any("v00000006" in d for d in still), (gone, still)
    assert any(d.startswith("cdc/") for d in gone)


def test_commit_log_append_rebase_in_place(spark, tmp_path):
    """r12: lost version races on (txn_)append rebase IN PLACE — the
    already-written directory re-publishes under the next version, so
    contention leaves zero orphan directories and no batch is ever
    re-read or re-written (Delta's blind-append commute rule)."""
    import os
    import threading

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    cl.create_table(spark, path, spark.range(1).selectExpr("id AS k"))
    errs = []

    def worker(lo):
        try:
            for i in range(5):
                cl.append(
                    spark, path,
                    spark.range(lo + i * 10, lo + i * 10 + 10)
                    .selectExpr("id AS k"),
                )
        except Exception as e:  # pragma: no cover - failure reporter
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(lo,))
          for lo in (100, 2000)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs, errs
    vs = cl.table_versions(path)
    assert vs == list(range(1, 12))
    got = sorted(r[0] for r in cl.read_table(spark, path).collect())
    assert got == sorted(
        [0] + list(range(100, 150)) + list(range(2000, 2050)))
    # ZERO orphans: exactly one data dir per commit — a rewrite-style
    # retry would have left losers' directories behind
    assert len(os.listdir(os.path.join(path, "data"))) == len(vs)

    # txn rebase keeps both apps' watermarks complete, still no orphans
    errs2 = []

    def tw(app, lo):
        try:
            for i in range(4):
                cl.txn_append(
                    spark, path,
                    spark.range(lo + i, lo + i + 1).selectExpr("id AS k"),
                    app, i,
                )
        except Exception as e:  # pragma: no cover
            errs2.append(e)

    t1 = threading.Thread(target=tw, args=("a", 9000))
    t2 = threading.Thread(target=tw, args=("b", 9500))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs2, errs2
    assert cl.latest_txn_version(path, "a") == 3
    assert cl.latest_txn_version(path, "b") == 3
    assert len(os.listdir(os.path.join(path, "data"))) == \
        len(cl.table_versions(path))


def test_commit_log_describe_detail(spark, tmp_path):
    """DESCRIBE DETAIL (r12): the one-row current-state summary tracks
    version, live files/bytes, live DVs, cdc sidecars, schema/CHECK/
    CDF properties, clustering, and checkpoint presence."""
    import json
    import os

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, p double, ts bigint")
    cl.create_table(spark, path, mk([(i, 1.0, 1) for i in range(40)]),
                    stats_cols=["k"], check="p >= 0",
                    change_data_feed=True)
    d0 = cl.describe_detail(spark, path).collect()[0]
    assert d0["version"] == 1 and d0["n_live_dirs"] == 1
    assert d0["check_constraint"] == "p >= 0"
    assert d0["change_data_feed"] is True
    assert d0["n_deletion_vectors"] == 0
    assert d0["size_bytes"] > 0 and d0["n_files"] >= 1
    assert d0["checkpoint_version"] is None

    cl.delete_where(spark, path, "k = 3", deletion_vectors=True)
    cl.compact(spark, path, target_partitions=2, cluster_by=["k", "p"],
               zorder=True)
    # the compact delisted the only vector: no live deleted rows
    # (checked before the checkpoint, whose fresh fold would hide an
    # over-count)
    assert cl.describe_detail(spark, path).collect()[0]["dv_rows"] == 0
    cl.checkpoint_log(path)
    d1 = cl.describe_detail(spark, path).collect()[0]
    assert d1["version"] == 3
    assert d1["n_deletion_vectors"] == 0   # compact applied + delisted
    assert d1["n_cdc_dirs"] == 1           # the DV delete's cdc
    assert d1["clustered_by"] == "k,p" and d1["zorder"] is True
    assert d1["checkpoint_version"] == 3
    assert d1["n_live_dirs"] == 2
    assert d1["column_mapping"] is None and d1["reader_features"]

    # column-mapping and protocol facts surface too
    cl.drop_check_constraint(spark, path)
    cl.rename_column(spark, path, "p", "price")
    cl.drop_column(spark, path, "ts")
    d2 = cl.describe_detail(spark, path).collect()[0]
    assert d2["column_mapping"] == "price->p"
    assert d2["n_reserved_physical"] == 1
    assert "column_mapping" in d2["reader_features"]
    assert "deletion_vectors" in d2["reader_features"]

    # dv_rows counts only the LIVE vectors: a delisted vector's rows
    # leave the count, in describe, the checkpoint and a clone
    p2 = str(tmp_path / "t2")
    cl.create_table(spark, p2, mk([(i, 1.0, 1) for i in range(50)]))
    cl.append(spark, p2, mk([(i, 1.0, 1) for i in range(50, 100)]))
    detail = lambda p: cl.describe_detail(spark, p).collect()[0]
    cl.delete_where(spark, p2, "k < 10", deletion_vectors=True)
    assert (detail(p2)["n_deletion_vectors"], detail(p2)["dv_rows"]) \
        == (1, 10)
    cl.compact(spark, p2)
    assert (detail(p2)["n_deletion_vectors"], detail(p2)["dv_rows"]) \
        == (0, 0)
    cl.delete_where(spark, p2, "k >= 90", deletion_vectors=True)
    assert (detail(p2)["n_deletion_vectors"], detail(p2)["dv_rows"]) \
        == (1, 10)
    v_ck = cl.checkpoint_log(p2)
    with open(os.path.join(p2, "_commits", f"{v_ck:08d}.ckpt.json")) as f:
        assert json.load(f)["dv_rows"] == 10
    assert detail(p2)["dv_rows"] == 10
    c2 = str(tmp_path / "c2")
    v_c = cl.clone_table(spark, p2, c2)
    assert cl._read_commits(c2, None)[-1]["version"] == v_c
    assert cl._read_commits(c2, None)[-1]["dv_rows"] == 10
    assert detail(c2)["dv_rows"] == 10
    assert cl.read_table(spark, c2).count() == 80


def test_commit_log_column_mapping(spark, tmp_path):
    """sources/commit_log.py rename_column/drop_column (Delta's column
    mapping): both are METADATA-ONLY commits — zero data directories
    added or removed, physical parquet names unchanged on disk — while
    reads project to logical names, writers translate back through the
    map (update/merge/stats pruning/CHECK all compose), drop RESERVES
    the physical name until a compact clears it, and restore reverts
    the mapping with the schema."""
    import glob
    import json
    import os

    import pyarrow.parquet as pq
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    nation = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    cl.create_table(spark, path, nation, stats_cols=["n_nationkey"])
    v2 = cl.rename_column(spark, path, "n_name", "nation_name")

    # the rename commit is metadata-only
    with open(os.path.join(path, "_commits", f"{v2:08d}.json")) as f:
        entry = json.load(f)
    assert entry["added"] == [] and entry["removed"] == []
    assert entry["column_map"] == {"nation_name": "n_name"}

    df = cl.read_table(spark, path)
    assert df.columns == ["n_nationkey", "nation_name", "n_regionkey"]
    assert df.count() == 25
    # time travel before the rename keeps the old logical name
    assert "n_name" in cl.read_table(spark, path, version=1).columns

    # writes go THROUGH the map: physical files keep the old name
    v3 = cl.update_where(spark, path, "n_nationkey < 5",
                         {"nation_name": "lower(nation_name)"})
    new_dir = cl._read_commits(path, v3)[-1]["added"][0]
    pf = glob.glob(os.path.join(path, new_dir, "*.parquet"))[0]
    assert "n_name" in pq.read_schema(pf).names
    assert "nation_name" not in pq.read_schema(pf).names
    got = cl.read_table(spark, path).filter("n_nationkey < 5")
    assert all(r["nation_name"].islower() for r in got.collect())

    # merge through the rename still key-prunes on recorded stats
    batch = cl.read_table(spark, path).filter("n_nationkey = 7")
    v4 = cl.merge_upsert(spark, path, batch, ["n_nationkey"],
                         "n_regionkey")
    assert cl.read_table(spark, path).count() == 25

    # evolution cannot add a column shadowing the renamed physical
    with _pytest.raises(ValueError, match="physical name"):
        cl.append(spark, path,
                  cl.read_table(spark, path).withColumn(
                      "n_name", F.lit("x")),
                  merge_schema=True)

    # drop is metadata-only too, and reserves its physical name
    cl.append(spark, path,
              cl.read_table(spark, path).limit(0)
              .withColumn("note", F.lit("x")), merge_schema=True)
    v6 = cl.drop_column(spark, path, "note")
    with open(os.path.join(path, "_commits", f"{v6:08d}.json")) as f:
        entry = json.load(f)
    assert entry["added"] == [] and entry["removed"] == []
    assert entry["reserved_physical"] == ["note"]
    assert "note" not in cl.read_table(spark, path).columns
    with _pytest.raises(ValueError, match="compact"):
        cl.append(spark, path,
                  cl.read_table(spark, path).withColumn(
                      "note", F.lit("y")), merge_schema=True)
    # compact rewrites through the map and clears the reservation
    cl.compact(spark, path)
    cl.append(spark, path,
              cl.read_table(spark, path).limit(1)
              .withColumn("note", F.lit("y")), merge_schema=True)
    assert "note" in cl.read_table(spark, path).columns

    # restore to pre-rename reverts mapping + schema together
    cl.restore_table(spark, path, 1)
    df = cl.read_table(spark, path)
    assert "n_name" in df.columns and "nation_name" not in df.columns
    assert df.count() == 25

    # snapshot CDC refuses to diff across a mapping change
    with _pytest.raises(ValueError, match="mapping"):
        cl.table_changes(spark, path, 1, v4, ["n_nationkey"])
    ch = cl.table_changes(spark, path, v2, v3, ["n_nationkey"])
    assert ch.filter("_change_type = 'update'").count() == 5


def test_commit_log_column_mapping_checkpoint_clone(spark, tmp_path):
    """The column map and drop reservations survive a LOG CHECKPOINT
    (the synthetic state commit re-carries them) and propagate through
    CLONE — the two paths that replace/duplicate history and would
    silently lose key-present-only state."""
    from pyspark.sql import functions as F

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    df0 = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k BIGINT, s STRING, x DOUBLE")
    cl.create_table(spark, path, df0, stats_cols=["k"])
    cl.rename_column(spark, path, "s", "label")
    cl.drop_column(spark, path, "x")
    cl.checkpoint_log(path)
    # state folds now go through the checkpoint: reads, then a write
    df = cl.read_table(spark, path)
    assert df.columns == ["k", "label"]
    cl.append(spark, path, spark.createDataFrame(
        [(3, "c")], "k BIGINT, label STRING"))
    assert cl.read_table(spark, path).count() == 3
    # the physical name on disk is still 's' after the checkpoint
    import glob
    import os

    import pyarrow.parquet as pq

    last = cl._read_commits(path, None)[-1]["added"][0]
    pf = glob.glob(os.path.join(path, last, "*.parquet"))[0]
    assert pq.read_schema(pf).names == ["k", "s"]
    # clone inherits map + reservation
    dst = str(tmp_path / "c")
    cl.clone_table(spark, path, dst)
    assert cl.read_table(spark, dst).columns == ["k", "label"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dropped column"):
        cl.append(spark, dst,
                  cl.read_table(spark, dst).withColumn("x", F.lit(1.0)),
                  merge_schema=True)


def test_commit_log_reader_feature_gate(spark, tmp_path):
    """Protocol versioning (Delta's readerFeatures): commits that
    activate deletion vectors / column mapping record the reader
    feature they demand; a log demanding a feature this engine does
    NOT implement refuses to read (silently wrong data is the
    alternative); checkpoint and clone carry the demanded set."""
    import json
    import os

    import pytest as _pytest

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    cl.create_table(
        spark, path,
        spark.createDataFrame([(1, "a"), (2, "b")], "k BIGINT, s STRING"))
    cl.delete_where(spark, path, "k = 2", deletion_vectors=True)
    cl.rename_column(spark, path, "s", "label")
    feats = set(cl._table_state(
        cl._read_commits(path, None)).meta["reader_features"])
    assert feats == {"deletion_vectors", "column_mapping"}
    assert cl.read_table(spark, path).count() == 1  # known: reads fine

    # checkpoint keeps demanding them; clone inherits the demand
    cl.checkpoint_log(path)
    assert set(cl._table_state(
        cl._read_state_commits(path)).meta["reader_features"]) == feats
    dst = str(tmp_path / "c")
    cl.clone_table(spark, path, dst)
    # the clone's single commit sits AT the source's latest version
    # (one version namespace — the ExistsDefault invariant, r13)
    assert cl.table_versions(dst) == [
        cl.table_versions(path)[-1]]
    assert set(cl._table_state(
        cl._read_commits(dst, None)).meta["reader_features"]) == feats

    # a future feature this engine does not know -> loud refusal
    commits = cl._read_commits(path, None)
    cl._publish(path, {
        "version": commits[-1]["version"] + 1,
        "operation": "upgrade", "added": [], "removed": [],
        "reader_features": ["v2Checkpoints"],
    })
    with _pytest.raises(ValueError, match="v2Checkpoints"):
        cl.read_table(spark, path)
    # time travel BEFORE the upgrade still reads (feature fold is
    # per-snapshot commit list)
    assert cl.read_table(
        spark, path, version=commits[-1]["version"]).count() == 1


def test_commit_log_replace_where(spark, tmp_path):
    """replace_where (Delta's replaceWhere): out-of-scope batch rows
    refuse the WHOLE commit (nothing published, orphan reclaimed);
    key-range predicates prune non-containing directories (only the
    matching directory is rewritten); CDF tables record delete+insert
    images in one commit."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    mk = lambda rows: spark.createDataFrame(
        rows, "k bigint, v string")
    cl.create_table(spark, path, mk([(1, "a"), (2, "b")]),
                    stats_cols=["k"], change_data_feed=True)
    cl.append(spark, path, mk([(10, "c"), (11, "d")]), stats_cols=["k"])
    v_pre = cl.table_versions(path)[-1]

    # out-of-scope row (k=99 fails k < 5) refuses atomically
    with _pytest.raises(cl.ConstraintViolationError):
        cl.replace_where(spark, path, "k < 5", mk([(3, "x"), (99, "y")]))
    assert cl.table_versions(path)[-1] == v_pre

    # in-scope replacement: only the k<5 directory is rewritten
    v = cl.replace_where(spark, path, "k < 5", mk([(3, "x"), (4, "y")]))
    entry = cl._read_commits(path, v)[-1]
    assert entry["operation"] == "replace_where"
    assert len(entry["removed"]) == 1  # the k in {1,2} directory only
    assert entry["pruned_dirs"] == 1   # the k in {10,11} directory kept
    got = sorted(map(tuple, cl.read_table(spark, path).collect()))
    assert got == [(3, "x"), (4, "y"), (10, "c"), (11, "d")], got
    # time travel shows the pre-replace rows
    old = sorted(map(tuple, cl.read_table(spark, path, v_pre).collect()))
    assert old == [(1, "a"), (2, "b"), (10, "c"), (11, "d")]
    # CDF: 2 deletes + 2 inserts in the same commit
    ch = (spark.read.parquet(
        *[f"{path}/{d}" for d in entry["cdc"]])
        .groupBy("_change_type").count().collect())
    assert {(r[0], r[1]) for r in ch} == {("delete", 2), ("insert", 2)}


def test_commit_log_zorder_three_columns(spark, tmp_path):
    """N-dimensional ZORDER (zvalue_n): clustering on THREE columns
    makes every directory a tight box in all three, so a selective
    predicate on the LAST column still prunes — lexicographic range
    clustering would give the third column its full range in every
    directory and a delete on it would rewrite all of them."""
    from pyspark.sql import functions as F

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    df = spark.range(4096).select(
        (F.col("id") % 16).alias("k1"),
        ((F.col("id") / 16).cast("long") % 16).alias("k2"),
        ((F.col("id") / 256).cast("long") % 16).alias("k3"),
    )
    cl.create_table(spark, path, df, stats_cols=["k1", "k2", "k3"])
    v = cl.compact(spark, path, target_partitions=8,
                   cluster_by=["k1", "k2", "k3"], zorder=True)
    entry = cl._read_commits(path, v)[-1]
    assert entry.get("zorder") and len(entry["added"]) == 8

    dv = cl.delete_where(spark, path, "k3 <= 1")
    de = cl._read_commits(path, dv)[-1]
    assert len(de["removed"]) < 8, (
        "third-column delete rewrote every z-bucket: " + str(de))
    assert de["pruned_dirs"] >= 1
    # data unharmed: survivors match the predicate's complement
    assert cl.read_table(spark, path).count() == 4096 - 4096 // 8


def test_commit_log_add_drop_constraint(spark, tmp_path):
    """add_check_constraint / drop_check_constraint (ALTER TABLE ..
    CONSTRAINT, Delta's shape): adding validates EXISTING rows first
    (a violated constraint is never recorded); once added, writers
    enforce it like a create-time CHECK; dropping stops enforcement;
    restore reverts the constraint state; rename/drop of a
    referenced column refuses while the constraint lives."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    mk = lambda rows: spark.createDataFrame(rows, "k bigint, p double")
    cl.create_table(spark, path, mk([(1, 5.0), (2, 9.0)]))

    # existing data violates -> refused, nothing recorded
    with _pytest.raises(cl.ConstraintViolationError):
        cl.add_check_constraint(spark, path, "p < 9")
    assert cl._table_state(cl._read_state_commits(path)).meta["check"] is None

    v_add = cl.add_check_constraint(spark, path, "p < 100")
    with _pytest.raises(cl.ConstraintViolationError):
        cl.append(spark, path, mk([(3, 500.0)]))
    cl.append(spark, path, mk([(3, 50.0)]))

    # constrained column cannot be renamed or dropped
    with _pytest.raises(ValueError, match="CHECK"):
        cl.rename_column(spark, path, "p", "price")
    with _pytest.raises(ValueError, match="CHECK"):
        cl.drop_column(spark, path, "p")

    # single-slot model: must drop before re-adding
    with _pytest.raises(ValueError, match="drop_check_constraint"):
        cl.add_check_constraint(spark, path, "k > 0")
    v_drop = cl.drop_check_constraint(spark, path)
    cl.append(spark, path, mk([(4, 500.0)]))   # enforcement gone
    assert cl.read_table(spark, path).count() == 4
    # and now the rename goes through
    cl.rename_column(spark, path, "p", "price")

    # restore to the constrained era brings the constraint back
    cl.restore_table(spark, path, v_add)
    assert cl._table_state(
        cl._read_state_commits(path)).meta["check"] == "p < 100"
    with _pytest.raises(cl.ConstraintViolationError):
        cl.append(spark, path, mk([(9, 1000.0)]))
    # checkpoint keeps the restored constraint
    cl.checkpoint_log(path)
    assert cl._table_state(
        cl._read_state_commits(path)).meta["check"] == "p < 100"


def test_commit_log_optimize_write_auto_compact(spark, tmp_path):
    """The small-files levers (Delta's optimizeWrite/autoCompact):
    optimize_write bin-packs an over-partitioned batch to
    ceil(rows/N) files; auto_compact keeps the live directory count
    bounded across many small appends, with reads identical and time
    travel intact."""
    import glob
    import os

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    # a 200-partition upstream job appending 100 rows
    scattered = spark.range(100).repartition(200).selectExpr("id AS k")
    cl.create_table(spark, path, spark.range(0).selectExpr("id AS k"))
    v = cl.append(spark, path, scattered, optimize_write=50)
    rel = cl._read_commits(path, v)[-1]["added"][0]
    files = glob.glob(os.path.join(path, rel, "*.parquet"))
    assert len(files) == 2, files  # ceil(100/50), not 200
    assert cl.read_table(spark, path).count() == 100

    # auto-compact: 10 small appends, live dirs stay under the cap
    path2 = str(tmp_path / "t2")
    cl.create_table(spark, path2, spark.range(1).selectExpr("id AS k"))
    for i in range(10):
        cl.append(spark, path2,
                  spark.range(i * 10, i * 10 + 5).selectExpr("id AS k"),
                  auto_compact=4)
    commits = cl._read_state_commits(path2)
    live = cl._table_state(commits).live
    assert len(live) < 4, live
    assert any(c.get("operation") == "optimize"
               for c in cl._read_commits(path2, None))
    assert cl.read_table(spark, path2).count() == 51
    # time travel to a pre-compact version still works
    assert cl.read_table(spark, path2, version=2).count() == 6


def test_commit_log_merge_on_read(spark, tmp_path):
    """merge_on_read MERGE: zero data directories removed (the whole
    point), superseded rows in a DV sidecar, batch winners appended;
    stale batch rows (older ts) do NOT replace newer current rows;
    stats pruning limits the position scan; CDF records the
    insert/update pre-post pairs; compact reconciles."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    mk = lambda rows: spark.createDataFrame(
        rows, "k bigint, v string, ts bigint")
    cl.create_table(spark, path, mk([(1, "a", 10), (2, "b", 10)]),
                    stats_cols=["k"], change_data_feed=True)
    cl.append(spark, path, mk([(10, "c", 10), (11, "d", 10)]),
              stats_cols=["k"])
    # batch: k=1 newer (wins), k=2 older (loses), k=3 new
    v = cl.merge_upsert(
        spark, path, mk([(1, "A", 20), (2, "B", 5), (3, "N", 20)]),
        ["k"], "ts", merge_on_read=True)
    e = cl._read_commits(path, v)[-1]
    assert e["removed"] == [] and e.get("merge_on_read") is True
    assert e["dv_rows"] == 1 and len(e["dv_added"]) == 1
    assert e["pruned_dirs"] == 1     # the k in {10,11} dir never scanned
    got = sorted(map(tuple, cl.read_table(spark, path).collect()))
    assert got == [(1, "A", 20), (2, "b", 10), (3, "N", 20),
                   (10, "c", 10), (11, "d", 10)], got
    # CDF: one update pair (k=1) + one insert (k=3); k=2 no change
    ch = sorted(map(tuple, spark.read.parquet(
        *[f"{path}/{d}" for d in e["cdc"]])
        .select("_change_type", "k").collect()))
    assert ch == [("insert", 3), ("update_postimage", 1),
                  ("update_preimage", 1)], ch
    # compact reconciles; read unchanged
    cl.compact(spark, path)
    assert sorted(map(tuple, cl.read_table(spark, path).collect())) == got
    # schema evolution composes since r13 (the explicit raise is
    # gone); without merge_schema the shared gate still refuses
    with _pytest.raises(ValueError, match="merge_schema"):
        cl.merge_upsert(
            spark, path,
            mk([(4, "x", 30)]).withColumn("extra", F.lit(1)),
            ["k"], "ts", merge_on_read=True)


def test_update_on_read(spark, tmp_path):
    """DV-mode UPDATE (r12 verdict item 1): zero data directories
    removed, matched rows vectored + updated images appended; result
    hash-matches the rewrite UPDATE both DV-served and post-compact;
    CDC pre/post pairs equal the rewrite path's; no-match publishes
    nothing; untouched directories never rescanned beyond the
    position pass."""
    from sora_spark.sources import commit_log as cl

    mk = lambda rows: spark.createDataFrame(
        rows, "k bigint, st string, price double")
    rows1 = [(1, "F", 10.0), (2, "O", 20.0)]
    rows2 = [(10, "F", 30.0), (11, "O", 40.0)]

    def build(p):
        cl.create_table(spark, p, mk(rows1), stats_cols=["k"],
                        change_data_feed=True)
        cl.append(spark, p, mk(rows2), stats_cols=["k"])

    p_dv, p_rw = str(tmp_path / "dv"), str(tmp_path / "rw")
    build(p_dv)
    build(p_rw)
    sets = {"st": "'U'", "price": "price + 100"}
    v_dv = cl.update_where(spark, p_dv, "st = 'F'", sets,
                           merge_on_read=True)
    v_rw = cl.update_where(spark, p_rw, "st = 'F'", sets)
    e = cl._read_commits(p_dv, v_dv)[-1]
    assert e["removed"] == [] and e.get("merge_on_read") is True
    assert e["operation"] == "update"
    assert e["dv_rows"] == 2 and len(e["dv_added"]) == 1
    assert len(e["added"]) == 1
    want = sorted(map(tuple, cl.read_table(spark, p_rw).collect()))
    assert sorted(map(tuple, cl.read_table(spark, p_dv).collect())) \
        == want
    # CDC equality with the rewrite path (same pairs, same images)
    def cdc(p, v):
        ent = cl._read_commits(p, v)[-1]
        return sorted(map(tuple, spark.read.parquet(
            *[f"{p}/{d}" for d in ent["cdc"]]).collect()))
    assert cdc(p_dv, v_dv) == cdc(p_rw, v_rw)
    # compact applies the vector physically; read unchanged, DVs gone
    cl.compact(spark, p_dv)
    assert sorted(map(tuple, cl.read_table(spark, p_dv).collect())) \
        == want
    assert cl._table_state(cl._read_state_commits(p_dv)).dvs == []
    # nothing matched -> no commit published
    before = cl.table_versions(p_dv)[-1]
    assert cl.update_where(spark, p_dv, "k < 0", sets,
                           merge_on_read=True) is None
    assert cl.table_versions(p_dv)[-1] == before


def test_mor_schema_evolution(spark, tmp_path):
    """MOR x schema evolution (r12 verdict item 2): one commit adds a
    column, vectors the losers, appends winners in the new shape —
    removed=[], schema_evolved recorded; DV-served and post-compact
    reads both hash-match the rewrite evolve-merge; time travel
    before the merge keeps the old shape; old rows read NULL in the
    added column."""
    from sora_spark.sources import commit_log as cl

    mk = lambda rows, sch="k bigint, v string, ts bigint": \
        spark.createDataFrame(rows, sch)
    rows1 = [(1, "a", 10), (2, "b", 10)]
    rows2 = [(10, "c", 10), (11, "d", 10)]
    batch_rows = [(1, "A", 20, "m"), (2, "B", 5, "m"), (3, "N", 20, "m")]
    bsch = "k bigint, v string, ts bigint, src string"

    def build(p):
        cl.create_table(spark, p, mk(rows1), stats_cols=["k"],
                        change_data_feed=True)
        cl.append(spark, p, mk(rows2), stats_cols=["k"])

    p_mor, p_rw = str(tmp_path / "mor"), str(tmp_path / "rw")
    build(p_mor)
    build(p_rw)
    v_mor = cl.merge_upsert(
        spark, p_mor, mk(batch_rows, bsch), ["k"], "ts",
        merge_schema=True, merge_on_read=True)
    v_rw = cl.merge_upsert(
        spark, p_rw, mk(batch_rows, bsch), ["k"], "ts",
        merge_schema=True)
    e = cl._read_commits(p_mor, v_mor)[-1]
    assert e["removed"] == [] and e.get("schema_evolved") is True
    assert e["dv_rows"] == 1          # k=1 superseded; k=2 batch loses
    want = sorted(map(tuple, cl.read_table(spark, p_rw).collect()))
    got = sorted(map(tuple, cl.read_table(spark, p_mor).collect()))
    assert got == want, (got, want)
    # untouched/losing rows read NULL in the added column
    assert [r["src"] for r in cl.read_table(spark, p_mor)
            .filter("k in (2, 10)").collect()] == [None, None]
    # CDC equality with the rewrite path
    def cdc(p, v):
        ent = cl._read_commits(p, v)[-1]
        return sorted(map(tuple, spark.read.parquet(
            *[f"{p}/{d}" for d in ent["cdc"]]).collect()))
    assert cdc(p_mor, v_mor) == cdc(p_rw, v_rw)
    # time travel before the merge keeps the old 3-column shape
    assert cl.read_table(spark, p_mor, version=v_mor - 1).columns \
        == ["k", "v", "ts"]
    # compact rewrites everything into the evolved shape; DVs retire
    cl.compact(spark, p_mor)
    assert sorted(map(tuple, cl.read_table(spark, p_mor).collect())) \
        == want
    assert cl._table_state(cl._read_state_commits(p_mor)).dvs == []


def test_commit_log_write_defaults(spark, tmp_path):
    """Write-time defaults: the map survives checkpoint/clone,
    re-keys under rename, dies with drop, and fills old-shaped
    batches in txn_append/merge too; misuse refuses."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    mk = lambda rows, sch="k bigint, v double": spark.createDataFrame(
        rows, sch)
    cl.create_table(spark, path, mk([(1, 1.0)]))
    # defaults without an evolving batch refuse
    with _pytest.raises(ValueError, match="EVOLVING"):
        cl.append(spark, path, mk([(2, 2.0)]), defaults={"v": "0"})
    cl.append(spark, path,
              mk([(2, 2.0, "x")], "k bigint, v double, tag string"),
              merge_schema=True, defaults={"tag": "'none'"})
    # old-shaped append fills the default; merge does too
    cl.append(spark, path, mk([(3, 3.0)]))
    cl.merge_upsert(spark, path, mk([(4, 4.0)]), ["k"], "v")
    got = dict(
        (r["k"], r["tag"])
        for r in cl.read_table(spark, path).collect())
    assert got == {1: None, 2: "x", 3: "none", 4: "none"}, got
    # checkpoint keeps the map; rename re-keys it; drop removes it
    cl.checkpoint_log(path)
    assert cl._table_state(cl._read_state_commits(path)).meta["defaults"] == {
        "tag": "'none'"}
    cl.rename_column(spark, path, "tag", "label")
    assert cl._table_state(cl._read_state_commits(path)).meta["defaults"] == {
        "label": "'none'"}
    cl.append(spark, path, mk([(5, 5.0)]))
    assert cl.read_table(spark, path).filter("k = 5").collect()[0][
        "label"] == "none"
    cl.drop_column(spark, path, "label")
    assert cl._table_state(cl._read_state_commits(path)).meta["defaults"] == {}


def test_backfill_rebase_rename(spark, tmp_path, monkeypatch):
    """r13 review finding 2, pinned deterministically: a backfill
    evolution append that LOSES its version claim must rename its
    directory to the re-claimed version — otherwise the recorded
    intro version exceeds the directory's embedded version and the
    batch's own explicit NULLs would read the default."""
    from sora_spark.sources import commit_log as cl

    path = str(tmp_path / "t")
    mk = lambda rows, sch="k bigint, s string": spark.createDataFrame(
        rows, sch)
    cl.create_table(spark, path, mk([(1, "a")]))

    real_publish = cl._publish
    state = {"arm": True}

    def racing_publish(p, entry):
        if state["arm"] and entry.get("operation") == "append":
            state["arm"] = False
            real_publish(p, {
                "version": entry["version"], "operation": "append",
                "added": [], "removed": [],
            })
        return real_publish(p, entry)

    monkeypatch.setattr(cl, "_publish", racing_publish)
    v = cl.append(
        spark, path,
        mk([(2, "b", 2.0), (3, "c", None)],
           "k bigint, s string, p double"),
        merge_schema=True, defaults={"p": "-1.0"}, backfill=True)
    e = cl._read_commits(path, v)[-1]
    # the rebased directory carries the FINAL version in its name
    assert e["added"][0].startswith(f"data/v{v:08d}-"), e["added"]
    got = {r["k"]: r["p"] for r in cl.read_table(spark, path).collect()}
    # pre-evolution row backfills; the batch's explicit NULL stays
    # NULL (the bug: without the rename it read -1.0)
    assert got == {1: -1.0, 2: 2.0, 3: None}, got
