"""Declared queries: scans/sinks (Q-P*, Q-C*), filters/predicates
(Q-F*), sorts (Q-T*), set operations (Q-SO*). SURVEY §2.1/2.2/2.6/2.7.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import functions as F

from sora_spark.catalog import TABLE_NAMES, tables
from sora_spark.queries.registry import query
from sora_spark.scratch import scratch_dir

# Spark-reported schema of every fixture table (probed; FIXTURES.md is
# the parquet-footer view, this is the engine's type surface for it).
_EXPECTED_SCHEMA: list[tuple[str, int, str, str]] = [
    ("region", 1, "r_regionkey", "int"), ("region", 2, "r_name", "string"),
    ("nation", 1, "n_nationkey", "int"), ("nation", 2, "n_name", "string"),
    ("nation", 3, "n_regionkey", "int"),
    ("customer", 1, "c_custkey", "bigint"), ("customer", 2, "c_name", "string"),
    ("customer", 3, "c_nationkey", "int"), ("customer", 4, "c_acctbal", "double"),
    ("customer", 5, "c_mktsegment", "string"),
    ("supplier", 1, "s_suppkey", "bigint"), ("supplier", 2, "s_name", "string"),
    ("supplier", 3, "s_nationkey", "int"), ("supplier", 4, "s_acctbal", "double"),
    ("part", 1, "p_partkey", "bigint"), ("part", 2, "p_name", "string"),
    ("part", 3, "p_brand", "string"), ("part", 4, "p_type", "string"),
    ("part", 5, "p_size", "int"), ("part", 6, "p_retailprice", "double"),
    ("orders", 1, "o_orderkey", "bigint"), ("orders", 2, "o_custkey", "bigint"),
    ("orders", 3, "o_orderstatus", "string"), ("orders", 4, "o_totalprice", "double"),
    ("orders", 5, "o_orderdate", "timestamp_ntz"),
    ("orders", 6, "o_orderpriority", "string"),
    ("lineitem", 1, "l_orderkey", "bigint"), ("lineitem", 2, "l_partkey", "bigint"),
    ("lineitem", 3, "l_suppkey", "bigint"), ("lineitem", 4, "l_linenumber", "int"),
    ("lineitem", 5, "l_quantity", "double"),
    ("lineitem", 6, "l_extendedprice", "double"),
    ("lineitem", 7, "l_discount", "double"), ("lineitem", 8, "l_tax", "double"),
    ("lineitem", 9, "l_returnflag", "string"),
    ("lineitem", 10, "l_linestatus", "string"),
    ("lineitem", 11, "l_shipdate", "timestamp_ntz"),
    ("events", 1, "event_id", "bigint"), ("events", 2, "ts", "timestamp"),
    ("events", 3, "user_id", "bigint"), ("events", 4, "event_type", "string"),
    ("events", 5, "value", "double"), ("events", 6, "props", "string"),
    ("documents", 1, "doc_id", "bigint"), ("documents", 2, "text", "string"),
    ("documents", 3, "lang", "string"), ("documents", 4, "source", "string"),
    ("documents", 5, "n_chars", "bigint"),
    ("embeddings", 1, "vec_id", "bigint"),
    ("embeddings", 2, "embedding", "array<float>"),
    ("embeddings", 3, "label", "int"),
]


# ---- Q-P: scans ---------------------------------------------------------

@query(
    "qp1_table_counts",
    oracle=" UNION ALL ".join(
        f"SELECT '{t}' AS table_name, count(*) AS n_rows FROM {t}"
        for t in TABLE_NAMES
    )
    + " ORDER BY table_name",
    doc="Q-P1: row count of every fixture table (parquet scan smoke; "
    "counts come from parquet metadata, no data read).",
    tags=("source",),
)
def qp1_table_counts(spark, sf_dir):
    t = tables(spark, sf_dir)
    parts = [
        t.table(n).agg(F.lit(n).alias("table_name"), F.count("*").alias("n_rows"))
        for n in TABLE_NAMES
    ]
    return reduce(lambda a, b: a.unionAll(b), parts).orderBy("table_name")


@query(
    "qp2_schema_check",
    oracle="SELECT * FROM (VALUES "
    + ", ".join(f"('{t}', {i}, '{c}', '{ty}')" for t, i, c, ty in _EXPECTED_SCHEMA)
    + ") AS v(table_name, ordinal, col_name, col_type) "
    "ORDER BY table_name, ordinal",
    doc="Q-P2: engine-reported schema of every table equals the declared "
    "expectation (oracle side is the literal FIXTURES.md mapping).",
    tags=("source",),
)
def qp2_schema_check(spark, sf_dir):
    t = tables(spark, sf_dir)
    rows = []
    for name in TABLE_NAMES:
        for i, f_ in enumerate(t.table(name).schema.fields, start=1):
            rows.append((name, i, f_.name, f_.dataType.simpleString()))
    return spark.createDataFrame(
        rows, "table_name string, ordinal int, col_name string, col_type string"
    ).orderBy("table_name", "ordinal")


# ---- Q-C: sink→source roundtrips ---------------------------------------

@query(
    "qc1_csv_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    doc="Q-C1: engine writes nation as CSV and reads it back with an "
    "explicit schema; values must survive the roundtrip bit-for-bit.",
    tags=("source", "sink"),
)
def qc1_csv_roundtrip(spark, sf_dir):
    nation = tables(spark, sf_dir).nation
    path = scratch_dir("csv_nation")
    nation.write.mode("overwrite").option("header", "true").csv(path)
    return (
        spark.read.schema(nation.schema).option("header", "true").csv(path)
        .orderBy("n_nationkey")
    )


@query(
    "qc2_json_roundtrip",
    oracle="SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    doc="Q-C2: engine writes region as JSON-lines and reads it back with "
    "an explicit schema.",
    tags=("source", "sink"),
)
def qc2_json_roundtrip(spark, sf_dir):
    region = tables(spark, sf_dir).region
    path = scratch_dir("json_region")
    region.write.mode("overwrite").json(path)
    return spark.read.schema(region.schema).json(path).orderBy("r_regionkey")


# ---- Q-F: projection / filter / predicates ------------------------------

@query(
    "qf1_project_arithmetic",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS net_price
FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 500
""",
    doc="Q-F1: projection + arithmetic expression.",
    tags=("filter",),
)
def qf1_project_arithmetic(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax")),
                2,
            ).alias("net_price"),
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(500)
    )


@query(
    "qf3_in_predicate",
    oracle="SELECT count(*) AS n FROM orders "
    "WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')",
    doc="Q-F3: IN-list predicate.",
    tags=("filter",),
)
def qf3_in_predicate(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    return orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).agg(F.count("*").alias("n"))


@query(
    "qf4_like_prefix",
    oracle="SELECT count(*) AS n FROM part WHERE p_brand LIKE 'Brand#1%'",
    doc="Q-F4: LIKE prefix predicate (pushed to the scan as StartsWith).",
    tags=("filter",),
)
def qf4_like_prefix(spark, sf_dir):
    part = tables(spark, sf_dir).part
    return part.filter(F.col("p_brand").like("Brand#1%")).agg(
        F.count("*").alias("n")
    )


@query(
    "qf5_null_handling",
    oracle="SELECT count(*) AS n_total, count(nullif(l_discount, 0)) AS n_nonzero "
    "FROM lineitem",
    doc="Q-F5: NULL semantics — fixtures are NULL-free, so NULLs are "
    "manufactured via nullif; count() skips them identically.",
    tags=("filter", "null"),
)
def qf5_null_handling(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    return li.agg(
        F.count("*").alias("n_total"),
        F.count(F.nullif(F.col("l_discount"), F.lit(0))).alias("n_nonzero"),
    )


@query(
    "qf6_case_when",
    oracle="""
SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
            WHEN o_totalprice < 150000 THEN 'mid'
            ELSE 'high' END AS band,
       count(*) AS n
FROM orders GROUP BY band ORDER BY band
""",
    doc="Q-F6: CASE WHEN bucketing + count per band.",
    tags=("filter",),
)
def qf6_case_when(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    band = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
    )
    return (
        orders.groupBy(band.alias("band"))
        .agg(F.count("*").alias("n"))
        .orderBy("band")
    )


# ---- Q-T: sorts / limits ------------------------------------------------

@query(
    "qt1_sort_nulls_last",
    oracle="""
SELECT l_orderkey, l_linenumber, round(nullif(l_discount, 0), 2) AS disc
FROM lineitem
ORDER BY disc DESC NULLS LAST, l_orderkey, l_linenumber
LIMIT 100
""",
    doc="Q-T1: multi-column sort with explicit NULLS LAST (Spark and "
    "DuckDB default NULL ordering differs — SURVEY trap 7).",
    tags=("sort",),
)
def qt1_sort_nulls_last(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.nullif(F.col("l_discount"), F.lit(0)), 2).alias("disc"),
        )
        .orderBy(
            F.col("disc").desc_nulls_last(), "l_orderkey", "l_linenumber"
        )
        .limit(100)
    )


# ---- Q-SO: set operations ----------------------------------------------

@query(
    "qso1_union_counts",
    oracle="""
SELECT count(*) AS n_all, count(DISTINCT k) AS n_distinct
FROM (SELECT c_nationkey AS k FROM customer
      UNION ALL SELECT s_nationkey FROM supplier) u
""",
    doc="Q-SO1: UNION ALL multiplicity + dedup count.",
    tags=("setop",),
)
def qso1_union_counts(spark, sf_dir):
    t = tables(spark, sf_dir)
    u = t.customer.select(F.col("c_nationkey").alias("k")).unionAll(
        t.supplier.select(F.col("s_nationkey").alias("k"))
    )
    return u.agg(
        F.count("*").alias("n_all"), F.countDistinct("k").alias("n_distinct")
    )


@query(
    "qso2_intersect",
    oracle="""
SELECT c_nationkey AS k FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
ORDER BY k
""",
    doc="Q-SO2: INTERSECT (distinct semantics).",
    tags=("setop",),
)
def qso2_intersect(spark, sf_dir):
    t = tables(spark, sf_dir)
    return (
        t.customer.select(F.col("c_nationkey").alias("k"))
        .intersect(t.supplier.select(F.col("s_nationkey").alias("k")))
        .orderBy("k")
    )


@query(
    "qso3_except",
    oracle="""
SELECT c_custkey AS k FROM customer
EXCEPT
SELECT o_custkey FROM orders
ORDER BY k
LIMIT 100
""",
    doc="Q-SO3: EXCEPT — customers with no orders (cross-checks the "
    "left-anti family Q-J5/Q-J2).",
    tags=("setop",),
)
def qso3_except(spark, sf_dir):
    t = tables(spark, sf_dir)
    return (
        t.customer.select(F.col("c_custkey").alias("k"))
        .subtract(t.orders.select(F.col("o_custkey").alias("k")))
        .orderBy("k")
        .limit(100)
    )


@query(
    "qso4_intersect_except_all",
    oracle="""
SELECT
  (SELECT count(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
                         INTERSECT ALL
                         SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') a)
      AS n_intersect_all,
  (SELECT count(*) FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
                         EXCEPT ALL
                         SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') b)
      AS n_except_all
""",
    doc="Q-SO4: multiplicity-preserving INTERSECT ALL / EXCEPT ALL over "
    "two multisets of o_custkey.",
    tags=("setop",),
)
def qso4_intersect_except_all(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    a = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return a.intersectAll(b).agg(F.count("*").alias("n_intersect_all")).crossJoin(
        a.exceptAll(b).agg(F.count("*").alias("n_except_all"))
    )


# ---- Q-R: reshape (pivot / unpivot) -------------------------------------

@query(
    "qr1_pivot",
    oracle="""
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o,
       CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
    doc="Pivot: lineitem quantity and row count spread over the two "
    "l_linestatus values per l_returnflag — df.groupBy().pivot(values) "
    "with explicit value list (no extra distinct-scan job; one pass, "
    "map-side partial agg like any groupBy). Oracle is the CASE-WHEN "
    "expansion pivot desugars to.",
    tags=("reshape",),
)
def qr1_pivot(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag",
            F.col("F_qty").alias("qty_f"),
            F.col("O_qty").alias("qty_o"),
            F.col("F_n").alias("n_f"),
            F.col("O_n").alias("n_o"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "qr2_unpivot",
    oracle="""
SELECT p_partkey, metric, val FROM (
  SELECT p_partkey, 'p_size' AS metric,
         round(CAST(p_size AS DOUBLE), 2) AS val FROM part
  UNION ALL
  SELECT p_partkey, 'p_retailprice', round(p_retailprice, 2) FROM part
) ORDER BY p_partkey, metric LIMIT 400
""",
    doc="Unpivot (melt): part's numeric columns to long form via "
    "df.unpivot — narrow transform, no shuffle until the presentation "
    "sort. Oracle is the UNION ALL expansion.",
    tags=("reshape",),
)
def qr2_unpivot(spark, sf_dir):
    p = tables(spark, sf_dir).part
    return (
        p.select(
            "p_partkey",
            F.col("p_size").cast("double").alias("p_size"),
            "p_retailprice",
        )
        .unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "val")
        .select("p_partkey", "metric", F.round("val", 2).alias("val"))
        .orderBy("p_partkey", "metric")
        .limit(400)
    )


@query(
    "qc3_orc_roundtrip",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    doc="ORC source/sink: the urgent-orders slice is written as ORC "
    "(Spark native reader/writer, predicate pushdown + column pruning "
    "like parquet) and read back; the aggregate must match the "
    "parquet-direct oracle exactly — i.e. the roundtrip is lossless.",
    tags=("source", "sink"),
)
def qc3_orc_roundtrip(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = scratch_dir("orc_orders")
    orders.filter(F.col("o_orderpriority") == "1-URGENT").write.mode(
        "overwrite"
    ).orc(path)
    return (
        spark.read.orc(path)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "qsrc1_fasta_roundtrip",
    oracle="""
SELECT doc_id, md5(text) AS text_md5,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents ORDER BY doc_id
""",
    doc="FASTA source at the hash tier: documents are written as "
    "60-char-wrapped FASTA text files (sources.text.write_fasta, one "
    "file per partition) and read back through the Spark-4 Python "
    "DataSource (sources/fasta_datasource.py — one InputPartition per "
    "file); md5(sequence) + length must match DuckDB over the ORIGINAL "
    "parquet, proving header parsing and multi-line sequence "
    "reassembly are lossless. Promotes the FASTA source from the unit "
    "tier to a driver CORRECTNESS row.",
    tags=("source", "sink", "fasta"),
)
def qsrc1_fasta_roundtrip(spark, sf_dir):
    from sora_spark.sources.fasta_datasource import register
    from sora_spark.sources.text import write_fasta

    docs = tables(spark, sf_dir).documents
    path = scratch_dir("fasta_documents")
    write_fasta(docs, path, "doc_id", "text", wrap=60)
    register(spark)
    return (
        spark.read.format("fasta")
        .load(path)
        .select(
            F.col("header").cast("bigint").alias("doc_id"),
            F.md5("sequence").alias("text_md5"),
            F.length("sequence").cast("bigint").alias("n_chars"),
        )
        .orderBy("doc_id")
    )


@query(
    "qsrc2_partitioned_write",
    oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       round(sum(value), 2) AS value_sum
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY event_type ORDER BY event_type
""",
    doc="Partitioned-table lifecycle at the hash tier: events written "
    "as a Hive-partitioned parquet table (partitionBy event_type — "
    "the layout a 100 TB events table actually uses), read back with "
    "a partition-key filter, aggregated per partition. The read scan "
    "must touch ONLY the two selected partitions' directories — "
    "static partition pruning on a table the engine itself wrote — "
    "pinned by the companion plan test (tests/test_plans.py). Values "
    "hash-match DuckDB over the original parquet, so the "
    "write-partition-prune-read cycle is lossless.",
    tags=("source", "sink", "partitioning"),
)
def qsrc2_partitioned_write(spark, sf_dir):
    from sora_spark.sources.parquet import read_table

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = scratch_dir(f"events_partitioned-{sf_tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        ev = read_table(spark, sf_dir, "events")
        ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(
        F.col("event_type").isin("click", "purchase")
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .orderBy("event_type")
    )


@query(
    "qsrc3_schema_evolution",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(o_totalprice) AS BIGINT) AS n_price,
       CAST(count(o_orderpriority) AS BIGINT) AS n_prio,
       round(sum(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice END), 2)
         AS sum_price_even
FROM (
  SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_orderkey, NULL, o_orderpriority
  FROM orders WHERE o_orderkey % 2 = 1)
""",
    doc="Q-SRC3: schema evolution across parquet batches — an early "
    "batch wrote (o_orderkey, o_totalprice), a later one (o_orderkey, "
    "o_orderpriority); mergeSchema=true read unions the schemas with "
    "NULL back-fill, the append-only-table evolution contract every "
    "long-lived 100 TB dataset eventually needs. Aggregates certify "
    "both the union'd row set and the per-batch NULL shape.",
    tags=("source", "schema"),
)
def qsrc3_schema_evolution(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = scratch_dir("schema_evo")
    even = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    odd = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderpriority"
    )
    even.write.mode("overwrite").parquet(os.path.join(path, "b=0"))
    odd.write.mode("overwrite").parquet(os.path.join(path, "b=1"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "b=0"), os.path.join(path, "b=1")
    )
    return merged.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count("o_totalprice").cast("bigint").alias("n_price"),
        F.count("o_orderpriority").cast("bigint").alias("n_prio"),
        F.round(
            F.sum(
                F.when(F.col("o_orderkey") % 2 == 0, F.col("o_totalprice"))
            ),
            2,
        ).alias("sum_price_even"),
    )


@query(
    "qc5_zstd_roundtrip",
    oracle="""
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
FROM orders ORDER BY o_orderkey LIMIT 500
""",
    doc="Q-C5: parquet CODEC surface — orders written with "
    "compression=zstd and read back value-identical. Codec choice is "
    "a first-class 100 TB decision (zstd ~30% smaller than snappy at "
    "similar scan speed); this row pins that the engine can write and "
    "re-read it losslessly (the oracle reads the ORIGINAL table).",
    tags=("source", "sink", "codec"),
)
def qc5_zstd_roundtrip(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = scratch_dir("zstd_orders")
    orders.write.mode("overwrite").option("compression", "zstd").parquet(
        path
    )
    back = spark.read.parquet(path)
    return (
        back.select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
        .orderBy("o_orderkey")
        .limit(500)
    )


@query(
    "qso5_null_set_semantics",
    oracle="""
WITH a AS (SELECT CASE WHEN o_orderkey % 3 = 0 THEN NULL
                       ELSE o_orderpriority END AS p
           FROM orders WHERE o_orderkey <= 600),
b AS (SELECT CASE WHEN o_orderkey % 5 = 0 THEN NULL
                  ELSE o_orderpriority END AS p
      FROM orders WHERE o_orderkey BETWEEN 300 AND 900)
SELECT 'intersect' AS op, p, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT p FROM a INTERSECT SELECT p FROM b) GROUP BY p
UNION ALL
SELECT 'except', p, CAST(count(*) AS BIGINT) FROM (
  SELECT p FROM a EXCEPT SELECT p FROM b) GROUP BY p
ORDER BY op, p NULLS FIRST
""",
    doc="Q-SO5: NULL semantics through set operations — INTERSECT/"
    "EXCEPT treat NULL as EQUAL to NULL (group-style equality, unlike "
    "the = predicate), so a NULL row intersects and subtracts like a "
    "value. Both engines agree on this ANSI corner; the row pins it "
    "because a naive join-based rewrite of set ops (ON a.p = b.p) "
    "silently drops every NULL — the classic migration bug.",
    tags=("setop", "null"),
)
def qso5_null_set_semantics(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    k = F.col("o_orderkey")
    a = orders.filter(k <= 600).select(
        F.when(k % 3 == 0, None)
        .otherwise(F.col("o_orderpriority"))
        .alias("p")
    )
    b = orders.filter(k.between(300, 900)).select(
        F.when(k % 5 == 0, None)
        .otherwise(F.col("o_orderpriority"))
        .alias("p")
    )
    i = (
        a.intersect(b)
        .groupBy("p")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(F.lit("intersect").alias("op"), "p", "n")
    )
    x = (
        a.subtract(b)  # EXCEPT DISTINCT: drop values present in b AT ALL
        #   (exceptAll-then-distinct would keep values whose a-count
        #    merely exceeds the b-count — different algebra)
        .groupBy("p")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(F.lit("except").alias("op"), "p", "n")
    )
    return i.unionByName(x).orderBy("op", F.col("p").asc_nulls_first())


@query(
    "qt3_global_row_index",
    oracle="""
WITH r AS (SELECT o_orderkey, o_orderdate,
                  row_number() OVER (ORDER BY o_orderdate, o_orderkey)
                    AS row_index
           FROM orders)
SELECT CAST(row_index AS BIGINT) AS row_index, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
FROM r WHERE row_index <= 500 OR row_index % 97 = 0
ORDER BY row_index
""",
    doc="qt3: contiguous global row indexing WITHOUT a global sort "
    "bottleneck (operators/index.py global_row_index) — "
    "row_number() with no PARTITION BY plans a single-partition "
    "window (the whole table through one task), and "
    "monotonically_increasing_id is neither contiguous nor ordered; "
    "this is the standard two-pass replacement: range-partition on "
    "the total order, per-partition counts to the driver (ONE row "
    "per partition), broadcast cumulative offsets, partition-local "
    "row_number + offset. Gate verifies exact equality with the "
    "oracle's true global row_number on a spot-check slice (head + "
    "every 97th row), proving the offsets splice partitions "
    "seamlessly. Order includes the unique o_orderkey tiebreak — "
    "total order, so the index is engine-independent.",
    tags=("sort", "index", "scale"),
)
def qt3_global_row_index(spark, sf_dir):
    from sora_spark.operators.index import global_row_index

    o = tables(spark, sf_dir).orders.select("o_orderkey", "o_orderdate")
    idx = global_row_index(o, ["o_orderdate", "o_orderkey"])
    return (
        idx.filter(
            (F.col("row_index") <= 500) | (F.col("row_index") % 97 == 0)
        )
        .select(
            "row_index",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
        .orderBy("row_index")
    )


@query(
    "qc6_xml_roundtrip",
    oracle="""
SELECT o_orderkey,
       o_orderkey AS parsed_key,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS parsed_date,
       round(o_totalprice, 2) AS parsed_price,
       CAST(TRUE AS BOOLEAN) AS roundtrip_ok
FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey
""",
    doc="qc6: XML surface (Spark 4 from_xml) — order rows serialized "
    "to XML strings JVM-side (concat, no UDF), parsed back through "
    "from_xml with an explicit struct schema, fields compared to the "
    "originals; the gate's expected values come straight from the "
    "source columns, so any parse/serialize asymmetry (escaping, "
    "number formatting, date text) breaks the hash. Completes the "
    "semi-structured trio (JSON qx6, VARIANT capability row, XML "
    "here). Map-side only — a projection, no shuffle.",
    tags=("source", "xml", "roundtrip"),
)
def qc6_xml_roundtrip(spark, sf_dir):
    o = tables(spark, sf_dir).orders.filter(F.col("o_orderkey") < 2000)
    date_s = F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd")
    price = F.round("o_totalprice", 2)
    xml = F.concat(
        F.lit("<o><k>"),
        F.col("o_orderkey").cast("string"),
        F.lit("</k><d>"),
        date_s,
        F.lit("</d><p>"),
        price.cast("string"),
        F.lit("</p></o>"),
    )
    parsed = F.from_xml(
        xml, "k BIGINT, d STRING, p DOUBLE"
    )
    return (
        o.select(
            "o_orderkey",
            parsed.alias("_s"),
            date_s.alias("_d0"),
            price.alias("_p0"),
        )
        .select(
            "o_orderkey",
            F.col("_s.k").alias("parsed_key"),
            F.col("_s.d").alias("parsed_date"),
            F.col("_s.p").alias("parsed_price"),
            (
                (F.col("_s.k") == F.col("o_orderkey"))
                & (F.col("_s.d") == F.col("_d0"))
                & (F.col("_s.p") == F.col("_p0"))
            ).alias("roundtrip_ok"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "qso6_union_by_name",
    oracle="""
WITH u AS (
  SELECT l_orderkey, l_quantity
  FROM lineitem WHERE l_returnflag = 'A'
  UNION ALL BY NAME
  SELECT l_quantity, l_orderkey, l_discount
  FROM lineitem WHERE l_returnflag = 'R')
SELECT CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(count(l_discount) AS BIGINT) AS n_disc,
       round(sum(l_discount), 4) AS sum_disc
FROM u
""",
    doc="qso6: schema-evolving union — unionByName with "
    "allowMissingColumns vs DuckDB's UNION ALL BY NAME: the second "
    "branch's columns arrive in a DIFFERENT order and carry an extra "
    "column the first lacks, so positional UNION (qso1) would either "
    "fail or silently cross-wire orderkey with quantity. The gate "
    "counts non-NULL fills (n_disc = branch-2 rows only) plus value "
    "sums over both the shared and the missing column. This is the "
    "ingestion idiom for landing files whose schema drifted "
    "release-over-release (the batch twin of qsrc3's mergeSchema "
    "read). Map-only — no shuffle beyond the final 1-row aggregate.",
    tags=("setop", "schema-evolution"),
)
def qso6_union_by_name(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    a = li.filter(F.col("l_returnflag") == "A").select(
        "l_orderkey", "l_quantity"
    )
    b = li.filter(F.col("l_returnflag") == "R").select(
        "l_quantity", "l_orderkey", "l_discount"
    )
    u = a.unionByName(b, allowMissingColumns=True)
    return u.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("l_discount").cast("bigint").alias("n_disc"),
        F.round(F.sum("l_discount"), 4).alias("sum_disc"),
    )


@query(
    "qc7_corrupt_record_handling",
    oracle="""
SELECT CAST(count(*) + 3 AS BIGINT) AS n_total,
       CAST(3 AS BIGINT) AS n_corrupt,
       CAST(count(*) AS BIGINT) AS n_good,
       CAST(sum(n_nationkey) AS BIGINT) AS sum_good_keys,
       CAST(count(*) AS BIGINT) AS n_dropmalformed
FROM nation
""",
    doc="qc7: malformed-input contract — the engine writes nation as "
    "CSV, PLANTS 3 rows whose key column is non-numeric, and reads "
    "the poisoned file in both failure modes: PERMISSIVE + "
    "columnNameOfCorruptRecord (bad rows surface with the raw line "
    "captured and typed columns NULL — the quarantine pattern) and "
    "DROPMALFORMED (bad rows silently gone). The oracle derives "
    "expected counts from the clean view + the planted literals, so "
    "the gate certifies the dirty-data machinery itself: total = "
    "good+3, corrupt = exactly 3, good key-sum untouched, "
    "DROPMALFORMED = good count. At 100 TB ingest this is the "
    "difference between a poisoned row killing a 6-hour job and it "
    "landing in a quarantine column.",
    tags=("source", "csv", "corrupt"),
)
def qc7_corrupt_record_handling(spark, sf_dir):
    from pyspark.sql.types import StringType, StructField, StructType

    nation = tables(spark, sf_dir).nation
    path = scratch_dir("csv_poisoned")
    # the poisoned file is written by PLAIN python, not a Spark sink:
    # appending to a Spark-written part file trips the Hadoop local-FS
    # .crc sidecar (ChecksumException) — and a 25-row dimension
    # collect is the cheap, honest way to stage a hand-corrupted file
    rows = nation.orderBy("n_nationkey").collect()
    with open(os.path.join(path, "data.csv"), "w") as f:
        for r in rows:
            f.write(f"{r.n_nationkey},{r.n_name},{r.n_regionkey}\n")
        f.write("not_a_number,POISON_A,9\n")
        f.write("also_bad,POISON_B,9\n")
        f.write("NaNkey,POISON_C,9\n")
    # a FRESH StructType: .add() would mutate the session-cached
    # nation DataFrame's cached_property schema in place, corrupting
    # every later query that reads nation in this session
    schema = StructType(
        list(nation.schema.fields)
        + [StructField("_corrupt_record", StringType())]
    )
    permissive = (
        spark.read.schema(schema)
        .option("header", "false")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        # Spark requires a cache/materialization boundary to reference
        # the corrupt column alongside the raw input (SPARK-21610)
        .cache()
    )
    stats = permissive.agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.count("_corrupt_record").cast("bigint").alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_good"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("n_nationkey"))
        )
        .cast("bigint")
        .alias("sum_good_keys"),
    )
    dropped = (
        spark.read.schema(nation.schema)
        .option("header", "false")
        .option("mode", "DROPMALFORMED")
        .csv(path)
        # THE DROPMALFORMED trap this gate documents: malformed-ness
        # is decided against the columns actually MATERIALIZED, so a
        # pruned count(*) parses nothing and counts raw lines (28
        # here) — and count(concat_ws(cols)) folds straight back to
        # count(*) because concat_ws is provably non-null. distinct()
        # is the honest barrier: it must materialize every column, so
        # the parser applies the full schema and the row drop really
        # happens. (Rows are unique here, so distinct-count = count.)
        .distinct()
        .agg(F.count("*").cast("bigint").alias("n_dropmalformed"))
    )
    return stats.crossJoin(F.broadcast(dropped))


@query(
    "qsrc4_fasta_datasource_write",
    oracle="""
SELECT doc_id, md5(text) AS text_md5,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents ORDER BY doc_id
""",
    doc="The WRITE half of the Python DataSource API (qsrc1 certifies "
    "the read half): documents flow through "
    "df.write.format('fasta') — executor tasks stream partitions "
    "into temp files, the driver commit atomically renames them "
    "(two-phase file commit: failed tasks leave only temps, abort "
    "removes them, readers never see partial records) — then back "
    "through spark.read.format('fasta'), and md5(sequence)+length "
    "must match DuckDB over the ORIGINAL parquet. This closes the "
    "custom-connector loop: a format the engine both produces and "
    "consumes with the same commit guarantees as the built-in "
    "sinks.",
    tags=("source", "sink", "fasta", "datasource"),
)
def qsrc4_fasta_datasource_write(spark, sf_dir):
    from sora_spark.sources.fasta_datasource import register

    register(spark)
    docs = tables(spark, sf_dir).documents
    path = scratch_dir("fasta_dsw")
    (
        docs.select(
            F.col("doc_id").cast("string").alias("header"),
            F.col("text").alias("sequence"),
        )
        .write.format("fasta")
        .mode("overwrite")
        .save(path)
    )
    back = spark.read.format("fasta").load(path)
    return (
        back.select(
            F.col("header").cast("bigint").alias("doc_id"),
            F.md5("sequence").alias("text_md5"),
            F.length("sequence").cast("bigint").alias("n_chars"),
        )
        .orderBy("doc_id")
    )


@query(
    "qc8_json_corrupt_records",
    oracle="""
SELECT CAST(count(*) + 3 AS BIGINT) AS n_total,
       CAST(3 AS BIGINT) AS n_corrupt,
       CAST(count(*) AS BIGINT) AS n_good,
       CAST(sum(r_regionkey) AS BIGINT) AS sum_good_keys
FROM region
""",
    doc="qc8: malformed-JSON contract, completing qc7's dirty-data "
    "story for the second ingest format: region rows written as "
    "JSON-lines by plain python with 3 planted poison lines "
    "(truncated object, bare non-JSON text, unclosed string), read "
    "back PERMISSIVE with columnNameOfCorruptRecord. JSON "
    "malformed-ness differs from CSV's: it is a PARSE property of "
    "the line, not a per-column cast, so the quarantine count is "
    "stable under column pruning — no distinct() barrier needed, "
    "which is itself part of the documented contract.",
    tags=("source", "json", "corrupt"),
)
def qc8_json_corrupt_records(spark, sf_dir):
    import json

    from pyspark.sql.types import StringType, StructField, StructType

    region = tables(spark, sf_dir).region
    path = scratch_dir("json_poisoned")
    rows = region.orderBy("r_regionkey").collect()
    with open(os.path.join(path, "data.json"), "w") as f:
        for r in rows:
            f.write(
                json.dumps(
                    {"r_regionkey": r.r_regionkey, "r_name": r.r_name}
                )
                + "\n"
            )
        f.write('{"r_regionkey": 99, "r_name": "TRUNCATED"\n')
        f.write("this is not json at all\n")
        f.write('{"r_regionkey": 98, "r_name": "UNCLOSED\n')
    schema = StructType(
        list(region.schema.fields)
        + [StructField("_corrupt_record", StringType())]
    )
    got = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return got.agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.count("_corrupt_record").cast("bigint").alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_good"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("r_regionkey"))
        )
        .cast("bigint")
        .alias("sum_good_keys"),
    )


@query(
    "qsrc4_fastq_roundtrip",
    oracle="""
WITH q AS (SELECT doc_id, text,
                  list_aggregate(
                    list_transform(split(text, ''),
                                   x -> chr(33 + ascii(x) % 40)),
                    'string_agg', '') AS qual
           FROM documents)
SELECT doc_id, md5(text) AS seq_md5, md5(qual) AS qual_md5,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST((SELECT sum(33 + ascii(x) % 40)
             FROM unnest(split(text, '')) AS t(x)) AS BIGINT) AS q_sum
FROM q ORDER BY doc_id
""",
    doc="FASTQ source/sink at the hash tier - the sequencing-read "
    "format with per-base quality: documents become 4-line FASTQ "
    "records (sources/fastq_datasource.py write path, two-phase "
    "commit) with a DETERMINISTIC phred string derived per character "
    "(chr(33 + ascii(c) % 40), computed JVM-side via transform over "
    "the char array - no Python in the row path), then read back "
    "through the Python DataSource (one InputPartition per file; the "
    "reader enforces len(quality) == len(sequence) per record). "
    "md5(sequence), md5(quality) and the exact integer quality sum "
    "must match DuckDB recomputing the same derivation over the "
    "ORIGINAL parquet - proving the 4-line framing, the '+' "
    "separator handling and the seq/qual pairing are lossless. "
    "Extends qsrc1's FASTA roundtrip with the quality channel real "
    "pipelines trim on.",
    tags=("source", "sink", "fastq"),
)
def qsrc4_fastq_roundtrip(spark, sf_dir):
    from sora_spark.sources.fastq_datasource import register

    docs = tables(spark, sf_dir).documents
    qual = F.array_join(
        F.transform(
            F.split(F.col("text"), ""),
            lambda x: F.chr(F.lit(33) + F.ascii(x) % 40),
        ),
        "",
    )
    path = scratch_dir("fastq_documents")
    register(spark)
    (
        docs.select(
            F.col("doc_id").cast("string").alias("header"),
            F.col("text").alias("sequence"),
            qual.alias("quality"),
        )
        .write.format("fastq")
        .mode("overwrite")
        .save(path)
    )
    back = spark.read.format("fastq").load(path)
    q_sum = F.aggregate(
        F.transform(
            F.split(F.col("quality"), ""),
            lambda x: (F.ascii(x) - 33).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    ) + F.lit(33).cast("bigint") * F.length("quality")
    return (
        back.select(
            F.col("header").cast("bigint").alias("doc_id"),
            F.md5("sequence").alias("seq_md5"),
            F.md5("quality").alias("qual_md5"),
            F.length("sequence").cast("bigint").alias("n_chars"),
            q_sum.alias("q_sum"),
        )
        .orderBy("doc_id")
    )


@query(
    "qsrc5_bucketed_join",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    doc="Bucketed-table lifecycle at the hash tier: orders and "
    "lineitem are written as BUCKETED tables (bucketBy(8, orderkey) "
    "+ sortBy, saveAsTable) and the join runs over the bucketed "
    "reads - the layout that makes a repeated 100 TB fact-fact join "
    "shuffle-FREE: both sides arrive pre-hash-partitioned on the "
    "join key, so Spark plans a sort-merge join with NO Exchange on "
    "either input (the companion plan test pins exactly one "
    "Exchange in the whole query - the final rollup - vs three for "
    "the unbucketed twin). Values hash-match the plain-join oracle "
    "over the original parquet, so the bucketed write+read cycle is "
    "lossless. This is THE amortize-the-shuffle primitive: pay one "
    "bucketed write, join for free forever after.",
    tags=("source", "sink", "bucketing", "join"),
)
def qsrc5_bucketed_join(spark, sf_dir):
    from sora_spark.sources.parquet import read_table

    sf_tag = (
        os.path.basename(os.path.normpath(sf_dir))
        .replace(".", "_")
        .replace("-", "_")
    )
    to, tl = f"orders_bkt_{sf_tag}", f"lineitem_bkt_{sf_tag}"
    if not (
        spark.catalog.tableExists(to) and spark.catalog.tableExists(tl)
    ):
        # external tables in this process's scratch directory, never in
        # the warehouse directory under the working directory
        path = scratch_dir("qsrc5")
        for t, src, key, col in (
            (to, "orders", "o_orderkey", "o_orderpriority"),
            (tl, "lineitem", "l_orderkey", "l_quantity"),
        ):
            (
                read_table(spark, sf_dir, src)
                .select(key, col)
                .write.bucketBy(8, key)
                .sortBy(key)
                .mode("overwrite")
                .format("parquet")
                .option("path", os.path.join(path, t))
                .saveAsTable(t)
            )
    o, li = spark.table(to), spark.table(tl)
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "qc9_xml_roundtrip",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey
""",
    doc="XML source/sink roundtrip (Spark 4 built-in XML, SPARK-44265 "
    "- the spark-xml integration): nation written as rowTag-framed "
    "XML and read back with an EXPLICIT schema (inference would "
    "widen integer types and reorder fields); values must survive "
    "bit-for-bit. XML is the interchange format half the legacy "
    "feeds a 100 TB lake ingests still arrive in; the read side "
    "parallelizes per file like any text-based source and pushes "
    "column pruning into the row parser.",
    tags=("source", "sink", "xml"),
)
def qc9_xml_roundtrip(spark, sf_dir):
    from sora_spark.sources.parquet import read_table

    n = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = scratch_dir("xml_nation")
    (
        n.write.mode("overwrite")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .format("xml")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey bigint, n_name string, n_regionkey bigint")
        .load(path)
    )
    return back.select(
        "n_nationkey", "n_name", "n_regionkey"
    ).orderBy("n_nationkey")
