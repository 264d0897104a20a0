"""Declared queries: composed / scale-path operators — salted join
equivalence, multi-band MinHash LSH, and an end-to-end training-data
pipeline (dedup → quality filter → token accounting). Each is the
oracle-checked form of an operator whose scale story lives in
SCALE.md.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sora_spark.catalog import tables
from sora_spark.llm import curate, dedup, textstats
from sora_spark.operators import incremental as inc
from sora_spark.operators.skew import salted_join
from sora_spark.queries.registry import query
from sora_spark.scratch import fresh_dir
from sora_spark.sources import commit_log as cl
from sora_spark.sources import commit_log_stream as cls_
from sora_spark.streaming.upsert import merge_batch

# ---- set-up shared by the table-writing queries ------------------------


def _kv(orders, m, r=0, ts=True):
    """The orders rows with o_orderkey % m == r as (k, st, price[, ts]),
    price rounded to cents: the rows a table-writing query lays down."""
    cols = [
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.round("o_totalprice", 2).alias("price"),
    ]
    if ts:
        cols.append(F.col("o_orderdate").alias("ts"))
    return orders.filter(F.col("o_orderkey") % m == r).select(*cols)


def _batch(orders, m, bump=1000):
    """The update/insert batch merged over a `_kv` snapshot: the orders
    rows with o_orderkey % m == 0 at price + `bump` and one day later,
    so every batch row is strictly newer and the merge's tiebreak
    never decides."""
    return orders.filter(F.col("o_orderkey") % m == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.round(F.col("o_totalprice") + bump, 2).alias("price"),
        (F.col("o_orderdate") + F.expr("INTERVAL 1 DAY")).alias("ts"),
    )


def _upper_batch(orders, snap):
    """A key-narrow `_batch` (o_orderkey % 15 == 0, price + 500) cut to
    the upper half of `snap`'s key range: a mix of updates and inserts
    whose key range is disjoint from most of a key-range layout."""
    maxk = snap.agg(F.max("k")).collect()[0][0]
    return _batch(orders, 15, bump=500).filter(2 * F.col("k") >= maxk)


def _split_batch(orders):
    """The merge-on-read batch: the key%5 orders rows at price + 1000,
    one day LATER for multiples of 60 and one day EARLIER otherwise, so
    the keys it shares with a key%6 snapshot (the multiples of 30) fill
    both the winning and the losing merge leg."""
    return orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.round(F.col("o_totalprice") + 1000, 2).alias("price"),
        (F.col("o_orderdate") + F.when(
            F.col("o_orderkey") % 60 == 0, F.expr("INTERVAL 1 DAY")
        ).otherwise(F.expr("INTERVAL -1 DAY"))).alias("ts"),
    )


def _cents(orders, m, days=0):
    """The incremental-view queries' rows: o_orderkey % m == 0 as
    (k, pri, cents, ts), the measure in integer cents so the delta
    algebra is exact. `days` > 0 builds an update batch: price +
    1000 * days, ts `days` later."""
    price, ts = F.col("o_totalprice"), F.col("o_orderdate")
    if days:
        price = price + 1000 * days
        ts = ts + F.expr(f"INTERVAL {days} DAY")
    return orders.filter(F.col("o_orderkey") % m == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.round(price * 100).cast("bigint").alias("cents"),
        ts.alias("ts"),
    )


def _tiled_table(spark, name, snap):
    """A commit-log table in the fresh directory `name` holding `snap`
    as three key-range directories (ntile(3) over k: a create and two
    appends, each recording k stats). Returns the table path."""
    path = os.path.join(fresh_dir(name), "table")
    tiled = snap.withColumn("_t", F.ntile(3).over(Window.orderBy("k")))
    cl.create_table(
        spark, path, tiled.filter("_t = 1").drop("_t"), stats_cols=["k"])
    for t in (2, 3):
        cl.append(spark, path, tiled.filter(f"_t = {t}").drop("_t"),
                  stats_cols=["k"])
    return path


def _signed_ops(feed):
    """A change feed as the signed ops `inc.refresh` takes: inserts and
    post-images add (I), deletes and pre-images retract (D)."""
    return feed.select(
        "pri", "cents",
        F.when(
            F.col("_change_type").isin("insert", "update_postimage"),
            F.lit("I"),
        ).otherwise(F.lit("D")).alias("op"),
    )


def _view_sink(spark, src, vw):
    """Seed the per-priority view table `vw` from version 1 of the
    commit-log table `src` and return the foreachBatch body that
    refreshes it from each micro-batch of `src`'s change feed.

    The view rows carry an EPOCH WATERMARK (the Delta txnVersion
    pattern): a batch replayed after a crash between the view commit
    and Spark's checkpoint write would otherwise recompute the refresh
    FROM THE ALREADY-REFRESHED view and double-apply the delta, so a
    batch at or below the recorded epoch is skipped. The skip, not
    merge idempotence, makes the sink exactly-once."""
    cl.create_table(
        spark, vw,
        inc.build_view(cl.read_table(spark, src, 1), ["pri"], ["cents"])
        .withColumn("_e", F.lit(-1).cast("bigint")))

    def maintain(feed, epoch_id):
        sess = feed.sparkSession
        cur = cl.read_table(sess, vw)
        seen = cur.agg(F.max("_e")).collect()[0][0]
        if seen is not None and int(seen) >= int(epoch_id):
            return
        refreshed = inc.refresh(
            cur.drop("_e"), _signed_ops(feed), ["pri"], ["cents"]
        ).withColumn("_e", F.lit(int(epoch_id)).cast("bigint"))
        cl.merge_upsert(sess, vw, refreshed, ["pri"], "_e")

    return maintain


def _view_rows(view):
    """A per-priority view as the incremental-view queries emit it."""
    return view.select(
        "pri",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_cents").cast("bigint").alias("sum_cents"),
    ).orderBy("pri")


@query(
    "qsk1_salted_join",
    oracle="""
SELECT p_brand, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY p_brand
""",
    doc="qsk1: salted join (hot-key scatter + small-side replication) "
    "must be observationally identical to the plain equi-join.",
    tags=("join", "skew"),
)
def qsk1_salted_join(spark, sf_dir):
    t = tables(spark, sf_dir)
    j = salted_join(
        t.lineitem.select("l_partkey", "l_quantity"),
        t.part.select("p_partkey", "p_brand"),
        "l_partkey",
        "p_partkey",
        n_salts=4,
    )
    return (
        j.groupBy("p_brand")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy("p_brand")
    )


@query(
    "qd4_lsh_multiband",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh0 AS (SELECT doc_id, unnest(range(1, greatest(len(w) - 1, 1))) AS i, w FROM w),
shingle AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh FROM sh0),
perms AS (SELECT unnest(range(0, 4)) AS perm),
sig AS (SELECT doc_id, perm, min(md5(perm || '|' || sh)) AS sig
        FROM shingle CROSS JOIN perms GROUP BY doc_id, perm),
bands AS (SELECT doc_id, perm // 2 AS band,
                 string_agg(sig, '|' ORDER BY sig) AS bkey
          FROM sig GROUP BY doc_id, band),
pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
SELECT a, b FROM pairs ORDER BY a, b LIMIT 100
""",
    doc="qd4: multi-band MinHash LSH (4 salted-md5 permutations, 2 "
    "bands of 2) — candidate pairs sharing any band key; the full "
    "banding machinery under oracle check.",
    tags=("llm", "dedup", "lsh"),
)
def qd4_lsh_multiband(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return (
        dedup.lsh_candidate_pairs(docs, num_perm=4, bands=2)
        .orderBy("a", "b")
        .limit(100)
    )


@query(
    "qpipe1_training_data_pipeline",
    oracle="""
WITH dedup AS (
  SELECT doc_id, text, md5(lower(trim(text))) AS fp,
         row_number() OVER (PARTITION BY md5(lower(trim(text)))
                            ORDER BY doc_id) AS rn
  FROM documents),
kept AS (SELECT doc_id, text FROM dedup WHERE rn = 1),
feat AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
         len(list_filter(string_split(text, ' '),
             x -> list_contains(['the','and','of','to','in'], x))) * 1.0
           / len(string_split(text, ' ')) AS stop_ratio
  FROM kept)
SELECT count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       count(CASE WHEN n_tok >= 24 AND stop_ratio <= 0.5 THEN 1 END)
         AS n_quality
FROM feat
""",
    doc="qpipe1: end-to-end training-data pipeline — exact dedup (keep "
    "min doc_id per normalized fingerprint) → token accounting → "
    "quality gate (length + stopword-ratio).",
    tags=("llm", "pipeline"),
)
def qpipe1_training_data_pipeline(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    kept = dedup.dedup_exact(docs)
    w = textstats.tokens(F.col("text"))
    en_stop = F.array(
        *[F.lit(s) for s, lang in textstats.STOPWORDS if lang == "en"]
    )
    feat = kept.select(
        F.size(w).alias("n_tok"),
        (
            F.size(F.filter(w, lambda x: F.array_contains(en_stop, x)))
            / F.size(w)
        ).alias("stop_ratio"),
    )
    return feat.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.count(
            F.when((F.col("n_tok") >= 24) & (F.col("stop_ratio") <= 0.5), 1)
        ).alias("n_quality"),
    )


@query(
    "qcur1_hash_split",
    oracle="""
WITH h AS (
  SELECT doc_id, length(text) AS n_chars,
         substr(md5(CAST(doc_id AS VARCHAR) || '-split13'), 1, 8) AS hx
  FROM documents),
s AS (
  SELECT doc_id, n_chars,
         CASE WHEN hx < 'cccccccc' THEN 'train'
              WHEN hx < 'e6666666' THEN 'val'
              ELSE 'test' END AS split
  FROM h)
SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM s GROUP BY split ORDER BY split
""",
    doc="qcur1: deterministic 80/10/10 dataset split — membership is a "
    "pure function of md5(id || salt) compared against cumulative hex "
    "thresholds (0.8 -> 'cccccccc', 0.9 -> 'e6666666'), so any engine "
    "with md5 reproduces the exact split; new rows join their split "
    "with no reshuffle of old ones. The engine twin is "
    "llm.curate.split_by_hash_portable.",
    tags=("llm", "pipeline", "split"),
)
def qcur1_hash_split(spark, sf_dir):
    from sora_spark.llm import curate

    docs = tables(spark, sf_dir).documents
    s = curate.split_by_hash_portable(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return (
        s.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
        )
        .orderBy("split")
    )


@query(
    "qdiff1_snapshot_diff",
    oracle="""
WITH old AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio, o_totalprice AS price
  FROM orders WHERE o_orderkey % 10 != 3),
new AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 7 = 0 THEN '9-CHANGED'
              ELSE o_orderpriority END AS prio,
         o_totalprice AS price
  FROM orders WHERE o_orderkey % 10 != 4)
SELECT COALESCE(o.k, n.k) AS k,
       CASE WHEN o.k IS NULL THEN 'added'
            WHEN n.k IS NULL THEN 'removed'
            WHEN o.prio != n.prio OR o.price != n.price THEN 'changed'
       END AS change
FROM old o FULL OUTER JOIN new n ON o.k = n.k
WHERE (o.k IS NULL OR n.k IS NULL
       OR o.prio != n.prio OR o.price != n.price)
ORDER BY k
""",
    doc="qdiff1: CDC snapshot diff — two deterministic views of orders "
    "(rows %10=3 added, %10=4 removed, %7=0 priority-rewritten) "
    "through operators.diff.snapshot_diff; the shuffle carries "
    "key + 64-bit row hash, never the payload. Oracle is the naive "
    "full-outer-join diff.",
    tags=("cdc", "operator"),
)
def qdiff1_snapshot_diff(spark, sf_dir):
    from sora_spark.operators.diff import snapshot_diff

    orders = tables(spark, sf_dir).orders
    old = orders.filter(F.col("o_orderkey") % 10 != 3).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("price"),
    )
    new = orders.filter(F.col("o_orderkey") % 10 != 4).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 7 == 0, "9-CHANGED")
        .otherwise(F.col("o_orderpriority"))
        .alias("prio"),
        F.col("o_totalprice").alias("price"),
    )
    return snapshot_diff(old, new, ["k"]).orderBy("k")


@query(
    "qfz1_fuzzy_join",
    oracle="""
WITH names AS (
  SELECT DISTINCT n_name AS name FROM nation WHERE length(n_name) >= 6),
dirty AS (
  SELECT 'x' || substr(name, 2) AS q FROM names)
SELECT n.name, d.q AS q_r,
       CAST(levenshtein(n.name, d.q) AS BIGINT) AS distance
FROM names n JOIN dirty d ON levenshtein(n.name, d.q) <= 1
ORDER BY name, q_r
""",
    doc="qfz1: edit-distance-bounded fuzzy join — q-gram blocked "
    "(operators.fuzzy), verified by levenshtein <= 1. All names are "
    ">= 6 chars = q(d+1), where q-gram blocking recall is exact, so "
    "the blocked join equals the oracle's naive cross join.",
    tags=("operator", "fuzzy"),
)
def qfz1_fuzzy_join(spark, sf_dir):
    from sora_spark.operators.fuzzy import fuzzy_join

    names = (
        tables(spark, sf_dir).nation
        .filter(F.length("n_name") >= 6)
        .select(F.col("n_name").alias("name"))
        .distinct()
    )
    dirty = names.select(
        F.concat(F.lit("x"), F.expr("substr(name, 2)")).alias("q")
    )
    return (
        fuzzy_join(names, dirty, "name", "q", max_distance=1, q=3)
        .withColumn("distance", F.col("distance").cast("bigint"))
        .orderBy("name", "q_r")
    )


@query(
    "qiv1_interval_join",
    oracle="""
WITH l AS (
  SELECT o_orderkey AS lid, o_custkey % 20 AS key,
         (o_custkey * 7) % 1000 AS s,
         (o_custkey * 7) % 1000 + 1 + o_orderkey % 60 AS e
  FROM orders WHERE o_orderkey % 10 = 0),
r AS (
  SELECT o_orderkey AS rid, o_custkey % 20 AS key,
         (o_custkey * 13) % 1000 AS s,
         (o_custkey * 13) % 1000 + 1 + o_orderkey % 45 AS e
  FROM orders WHERE o_orderkey % 10 = 5)
SELECT l.lid, r.rid
FROM l JOIN r ON l.key = r.key AND l.s < r.e AND r.s < l.e
ORDER BY lid, rid
""",
    doc="qiv1: binned interval-overlap join ([start,end) semantics) — "
    "each interval explodes into fixed-size bins, candidates come "
    "from a (key, bin) equi-join (never the all-pairs theta join "
    "Spark would nested-loop at scale), overlap verified exactly, "
    "pair-level dedup. Oracle is the naive theta join.",
    tags=("operator", "interval"),
)
def qiv1_interval_join(spark, sf_dir):
    from sora_spark.operators.interval import interval_join

    orders = tables(spark, sf_dir).orders
    left = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        F.col("o_orderkey").alias("lid"),
        (F.col("o_custkey") % 20).alias("key"),
        ((F.col("o_custkey") * 7) % 1000).alias("start"),
        (
            (F.col("o_custkey") * 7) % 1000
            + 1
            + F.col("o_orderkey") % 60
        ).alias("end"),
    )
    right = orders.filter(F.col("o_orderkey") % 10 == 5).select(
        F.col("o_orderkey").alias("rid"),
        (F.col("o_custkey") % 20).alias("key"),
        ((F.col("o_custkey") * 13) % 1000).alias("start"),
        (
            (F.col("o_custkey") * 13) % 1000
            + 1
            + F.col("o_orderkey") % 45
        ).alias("end"),
    )
    return (
        interval_join(left, right, key="key", bin_size=64)
        .select("lid", F.col("rid_r").alias("rid"))
        .orderBy("lid", "rid")
    )


@query(
    "qtk1_topk_combiner",
    oracle="""
WITH r AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders)
SELECT o_orderpriority, CAST(rn AS BIGINT) AS rn, o_orderkey, o_totalprice
FROM r WHERE rn <= 3 ORDER BY o_orderpriority, rn
""",
    doc="qtk1: map-side top-k combiner — a mapInPandas partial pass "
    "keeps <= k rows per (group, Arrow batch) so only ~k*groups*"
    "batches rows shuffle into the exact window pass (vs every row "
    "for the plain window form). Must be observationally identical "
    "to row_number()-filter, which is the oracle.",
    tags=("operator", "topk"),
)
def qtk1_topk_combiner(spark, sf_dir):
    from sora_spark.operators.topk import topk_per_group

    orders = tables(spark, sf_dir).orders.select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    return (
        topk_per_group(
            orders,
            ["o_orderpriority"],
            "o_totalprice",
            3,
            tiebreak_cols=["o_orderkey"],
            descending=True,
        )
        .select(
            "o_orderpriority",
            F.col("rn").cast("bigint").alias("rn"),
            "o_orderkey",
            "o_totalprice",
        )
        .orderBy("o_orderpriority", "rn")
    )


@query(
    "qts1_resample_fill",
    oracle="""
WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         count(*) AS n_events
  FROM events GROUP BY 1, 2),
bounds AS (
  SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
  FROM b GROUP BY 1),
grid AS (
  SELECT event_type,
         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
  FROM bounds),
j AS (
  SELECT g.event_type, g.bucket, b.n_events,
         b.n_events IS NOT NULL AS present
  FROM grid g LEFT JOIN b ON g.event_type = b.event_type
                          AND g.bucket = b.bucket)
SELECT event_type,
       strftime(bucket, '%Y-%m-%d %H:00:00') AS hour,
       CAST(last_value(n_events IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS n_events,
       present
FROM j ORDER BY event_type, hour
""",
    doc="qts1: time-series regularization — resample events to an "
    "hourly grid per type, then dense per-key grid (sequence + "
    "explode, generated distributed) with forward fill via "
    "last(ignorenulls) over one key-partitioned window. `present` "
    "marks real vs gap rows. Oracle mirrors with generate_series + "
    "last_value IGNORE NULLS.",
    tags=("operator", "timeseries"),
)
def qts1_resample_fill(spark, sf_dir):
    from sora_spark.operators import timeseries

    ev = tables(spark, sf_dir).events
    b = timeseries.resample(ev, "event_type", "ts", step="1 hour")
    filled = timeseries.fill_gaps(
        b, "event_type", "bucket", "1 hour", ["n_events"]
    )
    return (
        filled.select(
            "event_type",
            F.date_format("bucket", "yyyy-MM-dd HH:00:00").alias("hour"),
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("_present").alias("present"),
        )
        .orderBy("event_type", "hour")
    )


@query(
    "qd5_neardup_clusters",
    oracle="""
WITH RECURSIVE
w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh0 AS (SELECT doc_id, unnest(range(1, greatest(len(w) - 1, 1))) AS i, w FROM w),
shingle AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh FROM sh0),
perms AS (SELECT unnest(range(0, 4)) AS perm),
sig AS (SELECT doc_id, perm, min(md5(perm || '|' || sh)) AS sig
        FROM shingle CROSS JOIN perms GROUP BY doc_id, perm),
bands AS (SELECT doc_id, perm // 2 AS band,
                 string_agg(sig, '|' ORDER BY sig) AS bkey
          FROM sig GROUP BY doc_id, band),
pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
e AS (SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs),
reach(v, u) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.v, e.d FROM reach r JOIN e ON r.u = e.s),
comp AS (SELECT v AS doc_id, min(u) AS cluster_id FROM reach GROUP BY v)
SELECT doc_id, cluster_id,
       row_number() OVER (PARTITION BY cluster_id ORDER BY doc_id) = 1
         AS is_canonical
FROM comp ORDER BY doc_id
""",
    doc="qd5: END-TO-END fuzzy dedup — MinHash banding (4 perms, 2 "
    "bands) -> star-edge similarity graph -> connected components "
    "(size-gated regime) -> canonical per cluster. The transitive "
    "a~b~c merge that pair lists under-deliver, hash-checked whole: "
    "the oracle rebuilds the same bands and closes the pair graph with a "
    "recursive CTE (bounded: closure is per-component, components "
    "are LSH-bucket-sized).",
    tags=("llm", "dedup", "graph", "pipeline"),
)
def qd5_neardup_clusters(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return (
        dedup.near_dup_clusters(docs, num_perm=4, bands=2)
        .orderBy("doc_id")
    )


@query(
    "qdz1_quantile_discretize",
    oracle="""
WITH b AS (
  SELECT round(quantile_cont(o_totalprice, 0.25), 4) AS b1,
         round(quantile_cont(o_totalprice, 0.5), 4)  AS b2,
         round(quantile_cont(o_totalprice, 0.75), 4) AS b3
  FROM orders)
SELECT CAST((o_totalprice > b.b1) AS INT)
       + CAST((o_totalprice > b.b2) AS INT)
       + CAST((o_totalprice > b.b3) AS INT) AS bucket,
       count(*) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM orders CROSS JOIN b
GROUP BY 1 ORDER BY bucket
""",
    doc="qdz1: exact quantile discretization — quartile boundaries via "
    "the exact percentile aggregate (Spark `percentile` == DuckDB "
    "`quantile_cont`, both linear interpolation; boundaries rounded "
    "to 4 decimals on both sides so last-ulp interpolation drift "
    "cannot flip a bucket), assignment = count of boundaries strictly "
    "below. The sketch path (approxQuantile) stays the scale default; "
    "this pins the exact mode.",
    tags=("operator", "discretize"),
)
def qdz1_quantile_discretize(spark, sf_dir):
    from sora_spark.operators.discretize import quantile_discretize

    orders = tables(spark, sf_dir).orders
    bucketed, _ = quantile_discretize(
        orders, "o_totalprice", n_buckets=4, out_col="bucket",
        exact=True, boundary_decimals=4,
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


@query(
    "qcur2_yield_report",
    oracle="""
WITH dedup AS (
  SELECT doc_id, source, text,
         row_number() OVER (PARTITION BY md5(lower(trim(text)))
                            ORDER BY doc_id) AS rn
  FROM documents),
curated AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
  FROM dedup WHERE rn = 1 AND len(string_split(text, ' ')) >= 24),
inn AS (SELECT source, count(*) AS docs_in FROM documents GROUP BY source),
outn AS (SELECT source, count(*) AS docs_out,
                CAST(sum(n_tokens) AS BIGINT) AS tokens_out
         FROM curated GROUP BY source)
SELECT i.source, i.docs_in,
       coalesce(o.docs_out, 0) AS docs_out,
       coalesce(o.tokens_out, 0) AS tokens_out,
       round(coalesce(o.docs_out, 0) * 1.0 / i.docs_in, 4) AS doc_yield
FROM inn i LEFT JOIN outn o ON i.source = o.source
ORDER BY i.source
""",
    doc="qcur2: curation yield accounting — per-source docs in/out, "
    "token totals and yield ratio after exact dedup + a min-length "
    "gate (the report a curation run ships with; "
    "llm.curate.yield_report over the same curated frame).",
    tags=("llm", "pipeline", "curation"),
)
def qcur2_yield_report(spark, sf_dir):
    from sora_spark.llm import curate, textstats

    docs = tables(spark, sf_dir).documents
    kept = dedup.dedup_exact(docs)
    curated = kept.withColumn(
        "n_tokens", F.size(textstats.tokens(F.col("text")))
    ).filter(F.col("n_tokens") >= 24)
    return (
        curate.yield_report(docs, curated)
        .withColumn("tokens_out", F.col("tokens_out").cast("bigint"))
        .orderBy("source")
    )


@query(
    "qcur3_weighted_mix",
    oracle="""
WITH h AS (
  SELECT doc_id, source, length(text) AS n_chars,
         substr(md5(CAST(doc_id AS VARCHAR) || '-mix5'), 1, 8) AS hx
  FROM documents),
kept AS (
  SELECT * FROM h
  WHERE CASE source
          WHEN 'src0' THEN TRUE
          WHEN 'src1' THEN hx < 'c0000000'
          WHEN 'src2' THEN hx < '80000000'
          ELSE hx < '33333333'
        END)
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM kept GROUP BY source ORDER BY source
""",
    doc="qcur3: weighted corpus mixing (the pre-training recipe step) — "
    "src0 kept at 100%, src1 at 75%, src2 at 50%, everything else at "
    "20%; membership is md5(id || salt) vs per-source hex thresholds "
    "(llm.curate.mix_sources), so the mix is engine-reproducible, "
    "stable under corpus growth, and a map-only filter with no "
    "sampling RNG. Oracle mirrors the thresholds verbatim.",
    tags=("llm", "pipeline", "mix"),
)
def qcur3_weighted_mix(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    kept = curate.mix_sources(
        docs,
        rates={"src0": 1.0, "src1": 0.75, "src2": 0.5},
        default_rate=0.2,
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        )
        .orderBy("source")
    )


@query(
    "qcur4_deterministic_shuffle",
    oracle="""
WITH k AS (
  SELECT doc_id, md5('7' || CAST(doc_id AS VARCHAR)) AS okey
  FROM documents)
SELECT CAST(row_number() OVER (ORDER BY okey, doc_id) AS INT) AS pos,
       doc_id, okey
FROM k ORDER BY okey, doc_id LIMIT 100
""",
    doc="qcur4: deterministic global shuffle of training order — sort "
    "by md5(seed || id) (llm.curate.deterministic_shuffle_key): a "
    "seeded permutation any engine reproduces with no RNG state. The "
    "100-row prefix plans as TakeOrderedAndProject (no global sort, "
    "no single-partition window — position is ranked on the tiny "
    "prefix only).",
    tags=("llm", "pipeline", "shuffle"),
)
def qcur4_deterministic_shuffle(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    key = curate.deterministic_shuffle_key("doc_id", "7")
    prefix = (
        docs.select("doc_id", key.alias("okey"))
        .orderBy("okey", "doc_id")
        .limit(100)
    )
    w = Window.orderBy("okey", "doc_id")
    return (
        prefix.withColumn("pos", F.row_number().over(w).cast("int"))
        .select("pos", "doc_id", "okey")
        .orderBy("pos")
    )


@query(
    "qup1_upsert_merge",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price, o_orderdate AS ts, 0 AS src
  FROM orders WHERE o_orderkey % 7 = 0),
batch AS (
  SELECT o_orderkey, o_orderstatus, round(o_totalprice + 1000, 2),
         o_orderdate + INTERVAL 1 DAY, 1
  FROM orders WHERE o_orderkey % 5 = 0),
u AS (SELECT * FROM snap UNION ALL SELECT * FROM batch),
r AS (SELECT *, row_number() OVER (PARTITION BY k
                                   ORDER BY ts DESC, src DESC) AS rn
      FROM u)
SELECT k, st, price, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM r WHERE rn = 1 ORDER BY k
""",
    doc="qup1: the upsert (merge) sink's core at the hash tier — a "
    "parquet snapshot (orders, key%7) merged with an update/insert "
    "batch (key%5: +1000 price, +1 day ts) via "
    "streaming.upsert.merge_batch (max-ts per key, batch wins ties, "
    "atomic dir swap); the post-merge TABLE ON DISK is read back and "
    "hash-matched against the SQL MERGE equivalent. Batch ts is "
    "strictly newer so the content-hash tiebreak never decides — "
    "deterministic cross-engine.",
    tags=("sink", "cdc", "upsert"),
)
def qup1_upsert_merge(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = os.path.join(fresh_dir("upsert_orders"), "table")
    _kv(orders, 7).write.mode("overwrite").parquet(path)
    merge_batch(spark, path, _batch(orders, 5), ["k"], "ts")
    return (
        spark.read.parquet(path)
        .select(
            "k",
            "st",
            "price",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
        .orderBy("k")
    )


@query(
    "qcur5_chunking",
    oracle="""
WITH d AS (
  SELECT doc_id, text, length(text) AS n FROM documents),
c AS (
  SELECT doc_id,
         CAST(unnest(range(0, CAST(greatest(ceil((n - 20) / 80.0), 1)
                                   AS BIGINT))) AS INT) AS chunk_id,
         text, n
  FROM d),
chunks AS (
  SELECT doc_id, chunk_id,
         substr(text, chunk_id * 80 + 1, 100) AS chunk_text
  FROM c)
SELECT doc_id, chunk_id, chunk_text,
       CAST(length(chunk_text) AS INT) AS chunk_len
FROM chunks ORDER BY doc_id, chunk_id
""",
    doc="qcur5: document chunking for context windows — 100-char "
    "chunks with 20-char overlap (stride 80), chunk i = "
    "substr(text, i*80+1, 100); the last chunk may be short but no "
    "character is dropped (llm.curate.chunk_documents: sequence + "
    "transform + posexplode, fully distributed, no UDF). Oracle "
    "mirrors the stride arithmetic with range + substr.",
    tags=("llm", "pipeline", "chunking"),
)
def qcur5_chunking(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return (
        curate.chunk_documents(docs, size=100, overlap=20)
        .withColumn("chunk_len", F.length("chunk_text").cast("int"))
        .orderBy("doc_id", "chunk_id")
    )


_PIPE2_THR = curate.split_threshold_hex(0.9)  # 'e6666666'


@query(
    "qpipe2_curation_pipeline",
    oracle=f"""
WITH dd AS (
  SELECT doc_id, source, text,
         row_number() OVER (PARTITION BY md5(lower(trim(text)))
                            ORDER BY doc_id) AS rn
  FROM documents),
kept AS (SELECT doc_id, source, text FROM dd WHERE rn = 1),
w5 AS (SELECT doc_id, string_split(text, ' ') AS w FROM kept),
s5 AS (SELECT doc_id, unnest(range(1, greatest(len(w) - 3, 1))) AS i, w
       FROM w5),
g5 AS (SELECT DISTINCT doc_id,
              w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                   || w[i+3] || ' ' || w[i+4] AS sh
       FROM s5),
ev AS (SELECT DISTINCT sh FROM g5 WHERE doc_id % 50 = 0),
contam AS (SELECT doc_id FROM (
             SELECT g5.doc_id, count(*) AS n FROM g5 JOIN ev USING (sh)
             WHERE doc_id % 50 <> 0 GROUP BY g5.doc_id)
           WHERE n >= 5),
clean AS (SELECT * FROM kept
          WHERE doc_id % 50 <> 0
            AND doc_id NOT IN (SELECT doc_id FROM contam)),
sp AS (SELECT doc_id, source, text,
              CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '-pipe2'),
                              1, 8) < '{_PIPE2_THR}'
                   THEN 'train' ELSE 'val' END AS split
       FROM clean),
wb AS (SELECT source, doc_id, string_split(text, ' ') AS w FROM documents),
sb AS (SELECT source, doc_id, unnest(range(1, greatest(len(w), 1))) AS i, w
       FROM wb),
gb AS (SELECT source, doc_id, w[i] || ' ' || w[i+1] AS sh FROM sb),
dgb AS (SELECT DISTINCT source, doc_id, sh FROM gb),
bp AS (SELECT source, sh FROM (
         SELECT source, sh, count(*) AS n_docs FROM dgb GROUP BY source, sh)
       WHERE n_docs >= 3),
totb AS (SELECT source, doc_id, count(*) AS n_grams FROM gb
         GROUP BY source, doc_id),
hitb AS (SELECT gb.source, gb.doc_id, count(*) AS n_bp
         FROM gb JOIN bp ON gb.source = bp.source AND gb.sh = bp.sh
         GROUP BY gb.source, gb.doc_id),
pdb AS (SELECT t.doc_id, t.n_grams, COALESCE(h.n_bp, 0) AS n_bp
        FROM totb t LEFT JOIN hitb h
          ON t.source = h.source AND t.doc_id = h.doc_id)
SELECT sp.split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(string_split(sp.text, ' '))) AS BIGINT) AS total_tokens,
       round(avg(pdb.n_bp * 1.0 / pdb.n_grams), 6) AS avg_bp_frac
FROM sp JOIN pdb ON sp.doc_id = pdb.doc_id
GROUP BY sp.split ORDER BY sp.split
""",
    doc="qpipe2: the round-6 composed curation pipeline — exact dedup "
    "(min-doc_id per normalized fingerprint) → benchmark "
    "decontamination (drop train docs sharing >= 5 distinct 5-grams "
    "with the doc_id%50 eval slice, eval side broadcast) → "
    "deterministic 90/10 md5-threshold split → per-split report of "
    "docs, token totals, and average boilerplate fraction "
    "(boilerplate_per_doc bigram repeated-span stats computed on the "
    "full corpus). One declared query exercising dedup, "
    "decontamination, hash split, and boilerplate analysis "
    "END-TO-END; every stage is the scale shape its standalone query "
    "certifies (qpipe1 / qcont1 / qcur1 / qta7).",
    tags=("llm", "pipeline"),
)
def qpipe2_curation_pipeline(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    kept = dedup.dedup_exact(docs)
    ev = kept.filter(F.col("doc_id") % 50 == 0)
    tr = kept.filter(F.col("doc_id") % 50 != 0)
    contaminated = (
        dedup.ngram_contamination(tr, ev, n=5)
        .filter(F.col("n_shared") >= 5)
        .select(F.col("train_id").alias("doc_id"))
    )
    clean = tr.join(contaminated, "doc_id", "left_anti")
    sp = curate.split_by_hash_portable(
        clean, {"train": 0.9, "val": 0.1}, salt="-pipe2"
    )
    pdb = textstats.boilerplate_per_doc(docs).select(
        "doc_id", "n_grams", "n_bp"
    )
    return (
        sp.join(pdb, "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split("text", " ")))
            .cast("bigint")
            .alias("total_tokens"),
            F.round(
                F.avg(F.col("n_bp") / F.col("n_grams")), 6
            ).alias("avg_bp_frac"),
        )
        .orderBy("split")
    )


@query(
    "qd7_keep_best_of_cluster",
    oracle="""
WITH RECURSIVE
w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh0 AS (SELECT doc_id, unnest(range(1, greatest(len(w) - 1, 1))) AS i, w FROM w),
shingle AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh FROM sh0),
perms AS (SELECT unnest(range(0, 4)) AS perm),
sig AS (SELECT doc_id, perm, min(md5(perm || '|' || sh)) AS sig
        FROM shingle CROSS JOIN perms GROUP BY doc_id, perm),
bands AS (SELECT doc_id, perm // 2 AS band,
                 string_agg(sig, '|' ORDER BY sig) AS bkey
          FROM sig GROUP BY doc_id, band),
pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
e AS (SELECT a AS s, b AS d FROM pairs UNION SELECT b, a FROM pairs),
reach(v, u) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.v, e.d FROM reach r JOIN e ON r.u = e.s),
comp AS (SELECT v AS doc_id, min(u) AS cluster_id FROM reach GROUP BY v)
SELECT c.doc_id, c.cluster_id,
       row_number() OVER (PARTITION BY c.cluster_id
                          ORDER BY d.n_chars DESC, c.doc_id) = 1 AS kept
FROM comp c JOIN documents d ON d.doc_id = c.doc_id
ORDER BY c.doc_id
""",
    doc="qd7: near-dup resolution the way a curation pipeline wants it "
    "— qd5's LSH->similarity-graph->CC clusters, but keeping the BEST "
    "document per cluster (here: longest by n_chars, doc_id "
    "tiebreak) instead of the arbitrary min-id canonical. Same "
    "bucket-bounded scale shape plus one cluster-keyed window.",
    tags=("llm", "dedup", "pipeline", "curation"),
)
def qd7_keep_best_of_cluster(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return (
        dedup.keep_best_of_cluster(
            docs, "n_chars", num_perm=4, bands=2
        ).orderBy("doc_id")
    )


@query(
    "qmv1_incremental_agg",
    oracle="""
WITH survivors AS (
  SELECT o_orderpriority, o_totalprice
  FROM orders
  WHERE o_orderdate < TIMESTAMP '1997-01-01' AND o_orderkey % 13 <> 0
  UNION ALL
  SELECT o_orderpriority, o_totalprice
  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01')
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS sum_o_totalprice
FROM survivors GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    doc="qmv1: incremental materialized-view maintenance "
    "(operators/incremental.py). View = per-priority count+sum over "
    "pre-1997 orders; the CDC batch then INSERTs all 1997+ orders and "
    "DELETEs every 13th pre-1997 order. The refresh aggregates ONLY "
    "the delta (signed partials) and full-outer-merges the broadcast "
    "result into the stored view — the view side is never re-scanned "
    "or shuffled, which is the whole point at 100 TB. Hash-matched "
    "against a from-scratch recompute over the surviving rows: the "
    "delta algebra must be observationally identical to rebuild.",
    tags=("pipeline", "cdc", "incremental"),
)
def qmv1_incremental_agg(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    cutoff = F.lit("1997-01-01").cast("timestamp")
    base = orders.filter(F.col("o_orderdate") < cutoff)
    view = inc.build_view(base, ["o_orderpriority"], ["o_totalprice"])
    inserts = orders.filter(F.col("o_orderdate") >= cutoff).withColumn(
        "op", F.lit("I")
    )
    deletes = base.filter(F.col("o_orderkey") % 13 == 0).withColumn(
        "op", F.lit("D")
    )
    cdc = inserts.unionByName(deletes)
    refreshed = inc.refresh(view, cdc, ["o_orderpriority"], ["o_totalprice"])
    return refreshed.select(
        "o_orderpriority",
        F.col("n").cast("bigint").alias("n"),
        F.round("sum_o_totalprice", 2).alias("sum_o_totalprice"),
    ).orderBy("o_orderpriority")


@query(
    "qts2_time_rollup",
    oracle="""
SELECT CASE WHEN grouping(day) = 1 THEN 'ALL'
            ELSE strftime(day, '%Y-%m-%d') END AS day,
       CASE WHEN grouping(hour) = 1 THEN 'ALL'
            ELSE strftime(hour, '%Y-%m-%d %H:00:00') END AS hour,
       CASE WHEN grouping(day) = 1 THEN 'total'
            WHEN grouping(hour) = 1 THEN 'day'
            ELSE 'hour' END AS grain,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value
FROM (SELECT date_trunc('day', ts) AS day,
             date_trunc('hour', ts) AS hour, value
      FROM events)
GROUP BY ROLLUP (day, hour)
ORDER BY grain, day, hour
""",
    doc="qts2: hypertable-style multi-granularity rollup "
    "(operators/timeseries.py time_rollup) — hour, day and grand "
    "total produced by ONE shuffle via ROLLUP over date_trunc'd "
    "grain columns (Catalyst Expand over a single scan, partial agg "
    "map-side), instead of a job per granularity. The "
    "continuous-aggregate shape for event telemetry at scale.",
    tags=("timeseries", "rollup"),
)
def qts2_time_rollup(spark, sf_dir):
    from sora_spark.operators.timeseries import time_rollup

    ev = tables(spark, sf_dir).events
    rolled = time_rollup(
        ev,
        "ts",
        ["day", "hour"],
        [
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ],
    )
    return rolled.select(
        F.coalesce(
            F.date_format("day", "yyyy-MM-dd"), F.lit("ALL")
        ).alias("day"),
        F.coalesce(
            F.date_format("hour", "yyyy-MM-dd HH:00:00"), F.lit("ALL")
        ).alias("hour"),
        "grain",
        "n_events",
        "sum_value",
    ).orderBy("grain", "day", "hour")


from sora_spark.operators.layout import zvalue, zvalue_sql  # noqa: E402

_ZSQL = zvalue_sql("x", "y", bits=8)


@query(
    "qlay1_zorder_keys",
    oracle=f"""
WITH k AS (SELECT c_custkey, c_custkey % 256 AS x, c_nationkey AS y
           FROM customer),
z AS (SELECT c_custkey, CAST({_ZSQL} AS BIGINT) AS zval FROM k)
SELECT c_custkey, zval FROM z ORDER BY zval, c_custkey LIMIT 100
""",
    doc="qlay1: Z-order (Morton) key computation for two-dimensional "
    "data-skipping layout (operators/layout.py) — bit-interleave of "
    "(c_custkey % 256, c_nationkey), the linear order under which "
    "range-partitioned parquet files get tight min/max boxes in BOTH "
    "dimensions. The oracle SQL is generated from the SAME bit-term "
    "list as the Spark column (parity by construction); the actual "
    "file-skipping payoff is measured in "
    "test_capabilities.py::test_zorder_layout_skips_files.",
    tags=("layout", "zorder"),
)
def qlay1_zorder_keys(spark, sf_dir):
    cust = tables(spark, sf_dir).customer
    k = cust.select(
        "c_custkey",
        (F.col("c_custkey") % 256).alias("x"),
        F.col("c_nationkey").alias("y"),
    )
    return (
        k.select("c_custkey", zvalue("x", "y", bits=8).alias("zval"))
        .orderBy("zval", "c_custkey")
        .limit(100)
    )


@query(
    "qcur6_per_source_cap",
    oracle="""
WITH r AS (SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(text), doc_id) AS rk
           FROM documents)
SELECT doc_id, source FROM r WHERE rk <= 15 ORDER BY doc_id
""",
    doc="qcur6: per-domain contribution cap (llm/curate.py "
    "cap_per_group) — at most 30 docs per source, selected by "
    "deterministic hash order (md5(text), doc_id tiebreak) so the "
    "survivor set is reproducible across runs/engines and unbiased "
    "w.r.t. crawl order. The standard anti-domination step in web "
    "corpus mixing; one window shuffle on source, rows past the cap "
    "dropped in the same stage.",
    tags=("llm", "curation"),
)
def qcur6_per_source_cap(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return (
        curate.cap_per_group(docs, "source", 15)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@query(
    "qdz2_equal_width_histogram",
    oracle="""
WITH b AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
           FROM lineitem),
h AS (SELECT CAST(least(floor((l_extendedprice - mn) / ((mx - mn) / 16)),
                        15) AS INT) AS bin,
             l_extendedprice AS x
      FROM lineitem, b)
SELECT bin, CAST(count(*) AS BIGINT) AS n,
       round(min(x), 2) AS lo, round(max(x), 2) AS hi
FROM h GROUP BY bin ORDER BY bin
""",
    doc="qdz2: equal-width histogram of l_extendedprice, 16 bins "
    "(operators/discretize.py equal_width_histogram) — the mergeable "
    "complement of qdz1's equal-depth bins: pass 1 collects exactly "
    "two numbers (min/max), pass 2 bins map-side and aggregates. "
    "Identical IEEE double arithmetic on both engines, so the bin "
    "boundaries hash-match exactly.",
    tags=("discretize", "histogram"),
)
def qdz2_equal_width_histogram(spark, sf_dir):
    from sora_spark.operators.discretize import equal_width_histogram

    li = tables(spark, sf_dir).lineitem
    return equal_width_histogram(li, "l_extendedprice", 16).orderBy("bin")


@query(
    "qev1_funnel",
    oracle="""
WITH v AS (SELECT user_id, min(ts) AS t0 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t1
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t0 GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t1 GROUP BY e.user_id)
SELECT * FROM (
  SELECT 0 AS stage_idx, 'view' AS stage,
         CAST((SELECT count(*) FROM v) AS BIGINT) AS n_users
  UNION ALL
  SELECT 1, 'click', CAST((SELECT count(*) FROM c) AS BIGINT)
  UNION ALL
  SELECT 2, 'purchase', CAST((SELECT count(*) FROM p) AS BIGINT))
ORDER BY stage_idx
""",
    doc="qev1: ordered funnel view -> click -> purchase "
    "(operators/events.py funnel): a user advances only via an event "
    "STRICTLY AFTER their previous stage's first event. Chain of "
    "per-stage first-ts frames equi-joined on user_id — every shuffle "
    "keys on user_id, so the whole chain co-partitions after one "
    "exchange. Bounded output from unbounded input.",
    tags=("events", "funnel"),
)
def qev1_funnel(spark, sf_dir):
    from sora_spark.operators.events import funnel

    ev = tables(spark, sf_dir).events
    return funnel(ev, ["view", "click", "purchase"]).orderBy("stage_idx")


@query(
    "qev2_retention",
    oracle="""
WITH f AS (SELECT user_id, min(date_trunc('day', ts)) AS cohort
           FROM events WHERE event_type = 'purchase' GROUP BY user_id),
a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events)
SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', f.cohort, a.day) AS INT) AS day_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM a JOIN f ON a.user_id = f.user_id
WHERE date_diff('day', f.cohort, a.day) >= 0
GROUP BY f.cohort, day_offset ORDER BY cohort_day, day_offset
""",
    doc="qev2: acquisition-cohort retention triangle "
    "(operators/events.py retention): cohort = each user's FIRST "
    "PURCHASE day, cell = distinct cohort users active again (any "
    "event) N days later; pre-cohort activity dropped. One cohort "
    "aggregation + one user-keyed equi-join + one count-distinct; "
    "output bounded by days x offsets regardless of event volume. "
    "Purchase-qualified cohorts (r07, VERDICT r06 item 6): the "
    "all-events cohort collapsed to ~2 first-appearance days on this "
    "fixture (every user active almost immediately), certifying only "
    "a 2-row triangle; first-purchase days spread over 11 cohort "
    "days at sf0.01 / 16 at sf0.1, so the gate now discriminates the "
    "full triangle shape.",
    tags=("events", "retention"),
)
def qev2_retention(spark, sf_dir):
    from sora_spark.operators.events import retention

    ev = tables(spark, sf_dir).events
    r = retention(
        ev, cohort_events=ev.filter(F.col("event_type") == "purchase")
    )
    return r.select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        F.col("day_offset").cast("int").alias("day_offset"),
        "n_users",
    ).orderBy("cohort_day", "day_offset")


@query(
    "qpipe3_curation_v2",
    oracle="""
WITH d AS (
  SELECT doc_id, source, text,
         row_number() OVER (PARTITION BY md5(lower(trim(text)))
                            ORDER BY doc_id) AS rn
  FROM documents),
kept AS (SELECT doc_id, source, text FROM d WHERE rn = 1),
capped AS (SELECT doc_id, source, text FROM (
    SELECT *, row_number() OVER (PARTITION BY source
                                 ORDER BY md5(text), doc_id) AS rk
    FROM kept) WHERE rk <= 15),
tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS t
        FROM capped),
cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
voc AS (SELECT t FROM (
          SELECT t, row_number() OVER (ORDER BY c DESC, t) AS rn FROM cnt)
        WHERE rn <= 20),
perdoc AS (SELECT doc_id, source, count(*) AS n_tok,
                  avg(CASE WHEN v.t IS NULL THEN 1.0 ELSE 0.0 END) AS oov
           FROM tok LEFT JOIN voc v USING (t)
           GROUP BY doc_id, source),
gated AS (SELECT * FROM perdoc WHERE oov <= 0.35)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       round(avg(oov), 6) AS avg_oov
FROM gated GROUP BY source ORDER BY source
""",
    doc="qpipe3: curation pipeline v2 composing the round-6 operators "
    "end-to-end — exact dedup (min-doc_id per normalized fingerprint) "
    "-> per-source cap 15 (deterministic md5 order) -> per-doc OOV "
    "fraction against the CAPPED corpus's own top-20 vocabulary "
    "(TakeOrderedAndProject + broadcast; V=20 < the 31-token fixture "
    "universe so the rate is non-degenerate) -> OOV<=0.35 quality "
    "gate (drops roughly half the docs at sf0.01 — binding) -> "
    "per-source yield report. Every stage is the declared operator "
    "(dedup.dedup_exact / curate.cap_per_group / textstats.vocab_top) "
    "running in one composed plan, the way a real corpus build "
    "chains them.",
    tags=("llm", "pipeline", "curation"),
)
def qpipe3_curation_v2(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    capped = curate.cap_per_group(dedup.dedup_exact(docs), "source", 15)
    tok = capped.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("t")
    )
    voc = F.broadcast(
        textstats.vocab_top(capped, 20).withColumn("_inv", F.lit(1))
    )
    oov = F.col("_inv").isNull().cast("double")
    perdoc = (
        tok.join(voc, "t", "left")
        .groupBy("doc_id", "source")
        .agg(F.count("*").alias("n_tok"), F.avg(oov).alias("oov"))
    )
    return (
        perdoc.filter(F.col("oov") <= 0.35)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.round(F.avg("oov"), 6).alias("avg_oov"),
        )
        .orderBy("source")
    )


@query(
    "qup4_scd2_history",
    oracle="""
SELECT user_id, round(value, 2) AS value,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(lead(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id),
                '%Y-%m-%d %H:%M:%S') AS valid_to,
       lead(ts) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) IS NULL AS is_current
FROM events WHERE event_type = 'signup'
ORDER BY user_id, valid_from, value
""",
    doc="qup4: SCD Type-2 dimension history (operators/scd.py) — each "
    "change opens a version and closes the previous via one lead() "
    "window pass (single shuffle on the key, no self-join, no driver "
    "state); last version per key stays open (valid_to NULL, "
    "is_current). The join-the-value-as-of-the-fact's-own-timestamp "
    "shape qup1/qup3's latest-per-key merges cannot answer.",
    tags=("pipeline", "cdc", "scd"),
)
def qup4_scd2_history(spark, sf_dir):
    from sora_spark.operators.scd import scd2_history

    ev = tables(spark, sf_dir).events.filter(
        F.col("event_type") == "signup"
    )
    h = scd2_history(ev, ["user_id"], "ts", "event_id", ["value"])
    return h.select(
        "user_id",
        F.round("value", 2).alias("value"),
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias(
            "valid_from"
        ),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
    ).orderBy("user_id", "valid_from", "value")


@query(
    "qev3_entry_paths",
    oracle="""
WITH r AS (SELECT user_id, event_type, ts, event_id,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events),
p AS (SELECT user_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM r WHERE rn <= 3 GROUP BY user_id)
SELECT path, CAST(count(*) AS BIGINT) AS n_users
FROM p GROUP BY path ORDER BY n_users DESC, path LIMIT 20
""",
    doc="qev3: top entry journeys — each user's first 3 events as a "
    "'>'-path, counted across users (operators/events.py "
    "entry_paths). Path order comes from sorting (ts, tiebreak, type) "
    "structs INSIDE the aggregate (collect_list order alone is "
    "nondeterministic — the qa9 lesson applied to sequences); output "
    "bounded by |event_types|^3 however many users exist.",
    tags=("events", "paths"),
)
def qev3_entry_paths(spark, sf_dir):
    from sora_spark.operators.events import entry_paths

    ev = tables(spark, sf_dir).events
    return (
        entry_paths(ev, k=3)
        .orderBy(F.desc("n_users"), "path")
        .limit(20)
    )


@query(
    "qprof1_table_profile",
    oracle="""
SELECT 'o_orderkey' AS "column",
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       round(CAST(min(o_orderkey) AS DOUBLE), 2) AS min_num,
       round(CAST(max(o_orderkey) AS DOUBLE), 2) AS max_num
FROM orders
UNION ALL
SELECT 'o_custkey',
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT o_custkey) AS BIGINT),
       round(CAST(min(o_custkey) AS DOUBLE), 2),
       round(CAST(max(o_custkey) AS DOUBLE), 2)
FROM orders
UNION ALL
SELECT 'o_orderstatus',
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT o_orderstatus) AS BIGINT), NULL, NULL
FROM orders
UNION ALL
SELECT 'o_totalprice',
       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT o_totalprice) AS BIGINT),
       round(CAST(min(o_totalprice) AS DOUBLE), 2),
       round(CAST(max(o_totalprice) AS DOUBLE), 2)
FROM orders
UNION ALL
SELECT 'o_orderdate',
       CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT o_orderdate) AS BIGINT), NULL, NULL
FROM orders
UNION ALL
SELECT 'o_orderpriority',
       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT o_orderpriority) AS BIGINT), NULL, NULL
FROM orders
ORDER BY "column"
""",
    doc="qprof1: per-column profile of orders (operators/profile.py) — "
    "null count, exact distinct count, numeric min/max as rounded "
    "doubles (typed report; stringified extrema invite cross-engine "
    "format drift). ONE aggregation pass for every column's stats "
    "together, stack-unpivoted into rows — the pre-trust report for "
    "a new data drop, at any scale one moment tuple per column "
    "crosses the wire.",
    tags=("pipeline", "profile", "quality"),
)
def qprof1_table_profile(spark, sf_dir):
    from sora_spark.operators.profile import profile_table

    orders = tables(spark, sf_dir).orders
    return profile_table(orders).orderBy("column")


def _ewma_sql(alpha: float = 0.7, k: int = 5) -> tuple[str, str]:
    """Numerator/denominator SQL mirroring operators/timeseries.ewma —
    identical term order so the float arithmetic is bit-equal."""
    num, den = [], []
    for j in range(k):
        lag = (
            "value"
            if j == 0
            else f"lag(value, {j}) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id)"
        )
        num.append(f"{alpha**j!r} * coalesce({lag}, 0.0)")
        den.append(
            f"{alpha**j!r} * CAST(({lag}) IS NOT NULL AS DOUBLE)"
        )
    return " + ".join(num), " + ".join(den)


_EWMA_NUM, _EWMA_DEN = _ewma_sql()


@query(
    "qts3_ewma",
    oracle=f"""
SELECT event_id,
       round((0.0 + {_EWMA_NUM}) / (0.0 + {_EWMA_DEN}), 6) AS ewma
FROM events ORDER BY event_id
""",
    doc="qts3: bounded-window EWMA (last 5 observations, alpha=0.7) "
    "per user (operators/timeseries.py ewma) — the truncated form a "
    "distributed engine should run: k lag() slots inside codegen, one "
    "key shuffle, vs the inherently sequential recursive definition. "
    "Series heads renormalize over existing lags. The oracle's "
    "num/den terms are generated in the SAME order as the Spark "
    "expression so the float arithmetic is bit-equal.",
    tags=("timeseries", "window", "ewma"),
)
def qts3_ewma(spark, sf_dir):
    from sora_spark.operators.timeseries import ewma

    ev = tables(spark, sf_dir).events
    return (
        ewma(ev, "user_id", "ts", "event_id", "value")
        .select("event_id", F.round("ewma", 6).alias("ewma"))
        .orderBy("event_id")
    )


@query(
    "qer1_entity_resolution",
    oracle="""
WITH RECURSIVE names AS (SELECT DISTINCT p_name FROM part),
e0 AS (SELECT a.p_name AS a, b.p_name AS b
       FROM names a JOIN names b ON a.p_name < b.p_name
       WHERE levenshtein(a.p_name, b.p_name) <= 2),
e AS (SELECT a AS s, b AS d FROM e0 UNION SELECT b, a FROM e0),
reach(v, u) AS (SELECT p_name, p_name FROM names UNION
                SELECT r.v, e.d FROM reach r JOIN e ON r.u = e.s),
comp AS (SELECT v, min(u) AS c FROM reach GROUP BY v)
SELECT v AS p_name, c AS canonical, v <> c AS merged
FROM comp ORDER BY p_name
""",
    doc="qer1: entity resolution — the data-cleaning composition "
    "(fuzzy q-gram-blocked edit-distance self-join <=2 -> similarity "
    "graph -> connected components -> min-name canonical) over part "
    "names. 24 fuzzy pairs fold 64 distinct names into 40 entities at "
    "sf0.01, non-degenerate both ways. Same bucket-bounded shape as "
    "qfz1 + size-gated connected components on STRING vertex ids; "
    "never all-pairs.",
    tags=("pipeline", "fuzzy", "entity"),
)
def qer1_entity_resolution(spark, sf_dir):
    from sora_spark.graph.graph import Graph
    from sora_spark.operators.fuzzy import fuzzy_join

    names = tables(spark, sf_dir).part.select("p_name").distinct()
    pairs = fuzzy_join(names, names, "p_name", "p_name", max_distance=2)
    edges = pairs.filter(F.col("p_name") < F.col("p_name_r")).select(
        F.col("p_name").alias("s"), F.col("p_name_r").alias("d")
    )
    cc = Graph(edges).connected_components()
    return (
        names.join(cc, names.p_name == cc.v, "left")
        .select(
            "p_name",
            F.coalesce(F.col("component"), F.col("p_name")).alias(
                "canonical"
            ),
        )
        .withColumn("merged", F.col("p_name") != F.col("canonical"))
        .orderBy("p_name")
    )


@query(
    "qdrift1_distribution_drift",
    oracle="""
WITH old_s AS (SELECT o_totalprice AS x FROM orders
               WHERE o_orderdate < TIMESTAMP '1997-01-01'),
new_s AS (SELECT o_totalprice AS x FROM orders
          WHERE o_orderdate >= TIMESTAMP '1997-01-01'),
b AS (SELECT min(x) AS mn, max(x) AS mx FROM
        (SELECT x FROM old_s UNION ALL SELECT x FROM new_s)),
ho AS (SELECT CAST(least(floor((x - mn) / ((mx - mn) / 16)), 15) AS INT)
         AS bin, count(*) AS n FROM old_s, b GROUP BY bin),
hn AS (SELECT CAST(least(floor((x - mn) / ((mx - mn) / 16)), 15) AS INT)
         AS bin, count(*) AS n FROM new_s, b GROUP BY bin),
j AS (SELECT COALESCE(ho.n, 0) AS n_old, COALESCE(hn.n, 0) AS n_new
      FROM ho FULL OUTER JOIN hn ON ho.bin = hn.bin),
t AS (SELECT sum(n_old) AS t_o, sum(n_new) AS t_n FROM j)
SELECT round(sum(abs(n_old / t_o - n_new / t_n)), 6) AS l1_distance,
       CAST(sum(n_old) AS BIGINT) AS n_old,
       CAST(sum(n_new) AS BIGINT) AS n_new
FROM j, t
""",
    doc="qdrift1: distribution-drift monitor (operators/profile.py "
    "histogram_drift) — L1 distance between equal-width histograms of "
    "pre-1997 vs 1997+ order totals over the combined domain. "
    "Map-side binning + histogram-sized join only; no global sort, so "
    "none of exact-KS's single-partition bottleneck. The feed-health "
    "alert every long-running ingestion needs.",
    tags=("pipeline", "profile", "drift"),
)
def qdrift1_distribution_drift(spark, sf_dir):
    from sora_spark.operators.profile import histogram_drift

    orders = tables(spark, sf_dir).orders
    cutoff = F.lit("1997-01-01").cast("timestamp")
    return histogram_drift(
        orders.filter(F.col("o_orderdate") < cutoff),
        orders.filter(F.col("o_orderdate") >= cutoff),
        "o_totalprice",
        16,
    )


@query(
    "qev4_conversion_lag",
    oracle="""
WITH v AS (SELECT user_id, min(ts) AS t0 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
p AS (SELECT e.user_id, min(e.ts) AS t1
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.t0
      GROUP BY e.user_id),
lag_s AS (SELECT date_diff('second', v.t0, p.t1) AS lag_s
          FROM p JOIN v ON p.user_id = v.user_id)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       round(quantile_cont(lag_s, 0.5), 4) AS p50_s,
       round(quantile_cont(lag_s, 0.9), 4) AS p90_s
FROM lag_s
""",
    doc="qev4: conversion-lag distribution — seconds from first view "
    "to first subsequent purchase per converting user, exact "
    "p50/p90. The time-to-convert companion of qev1's stage counts; "
    "same user-keyed first-ts frames, one percentile aggregation.",
    tags=("events", "funnel"),
)
def qev4_conversion_lag(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"), F.first("t0").alias("t0"))
    )
    lag = p.select(
        (F.unix_timestamp("t1") - F.unix_timestamp("t0")).alias("lag_s")
    )
    return lag.agg(
        F.count("*").cast("bigint").alias("n_converted"),
        F.round(F.percentile("lag_s", 0.5), 4).alias("p50_s"),
        F.round(F.percentile("lag_s", 0.9), 4).alias("p90_s"),
    )


@query(
    "qev5_rfm_segments",
    oracle="""
WITH u AS (
  SELECT user_id,
         date_diff('second', max(ts),
                   (SELECT max(ts) FROM events)) AS recency_s,
         count(*) AS frequency,
         sum(value) AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
t AS (SELECT quantile_cont(recency_s, 0.5) AS r_med,
             quantile_cont(frequency * 1.0, 0.5) AS f_med,
             quantile_cont(monetary, 0.5) AS m_med
      FROM u),
seg AS (SELECT CASE WHEN recency_s <= r_med THEN 'active' ELSE 'lapsed' END
          AS r_seg,
        CASE WHEN frequency > f_med THEN 'frequent' ELSE 'occasional' END
          AS f_seg,
        CASE WHEN monetary > m_med THEN 'high' ELSE 'low' END AS m_seg
        FROM u, t)
SELECT r_seg, f_seg, m_seg, CAST(count(*) AS BIGINT) AS n_users
FROM seg GROUP BY r_seg, f_seg, m_seg ORDER BY r_seg, f_seg, m_seg
""",
    doc="qev5: RFM (recency/frequency/monetary) segmentation over "
    "purchase events — per-user metrics in one aggregation, exact "
    "median thresholds broadcast back (the qa12 clip-band shape: "
    "threshold table is 1 row, the user frame is never re-shuffled), "
    "8-cell segment counts out. Boundary semantics pinned on both "
    "sides (<= median recency = active; > median f/m = high).",
    tags=("events", "segmentation"),
)
def qev5_rfm_segments(spark, sf_dir):
    ev = tables(spark, sf_dir).events.filter(
        F.col("event_type") == "purchase"
    )
    mx = ev.agg(F.max("ts").alias("_gmax"))
    u = (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            (
                F.unix_timestamp(F.first("_gmax"))
                - F.unix_timestamp(F.max("ts"))
            ).alias("recency_s"),
            F.count("*").alias("frequency"),
            F.sum("value").alias("monetary"),
        )
    )
    t = u.agg(
        F.percentile("recency_s", 0.5).alias("r_med"),
        F.percentile(F.col("frequency").cast("double"), 0.5).alias("f_med"),
        F.percentile("monetary", 0.5).alias("m_med"),
    )
    seg = u.crossJoin(F.broadcast(t)).select(
        F.when(F.col("recency_s") <= F.col("r_med"), "active")
        .otherwise("lapsed")
        .alias("r_seg"),
        F.when(F.col("frequency") > F.col("f_med"), "frequent")
        .otherwise("occasional")
        .alias("f_seg"),
        F.when(F.col("monetary") > F.col("m_med"), "high")
        .otherwise("low")
        .alias("m_seg"),
    )
    return (
        seg.groupBy("r_seg", "f_seg", "m_seg")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy("r_seg", "f_seg", "m_seg")
    )


@query(
    "qcur7_negative_pairs",
    oracle="""
WITH n AS (SELECT count(*) AS n_docs FROM documents),
k AS (SELECT unnest(range(0, 3)) AS k),
pairs AS (
  SELECT d.doc_id, k.k,
         (d.doc_id + 1 +
          CAST((CAST(ascii(substr(md5(CAST(d.doc_id AS VARCHAR) || '|' || CAST(k.k AS VARCHAR)), 1, 1)) AS BIGINT) * 1 + CAST(ascii(substr(md5(CAST(d.doc_id AS VARCHAR) || '|' || CAST(k.k AS VARCHAR)), 2, 1)) AS BIGINT) * 31 + CAST(ascii(substr(md5(CAST(d.doc_id AS VARCHAR) || '|' || CAST(k.k AS VARCHAR)), 3, 1)) AS BIGINT) * 961 + CAST(ascii(substr(md5(CAST(d.doc_id AS VARCHAR) || '|' || CAST(k.k AS VARCHAR)), 4, 1)) AS BIGINT) * 29791 + CAST(ascii(substr(md5(CAST(d.doc_id AS VARCHAR) || '|' || CAST(k.k AS VARCHAR)), 5, 1)) AS BIGINT) * 923521 + CAST(ascii(substr(md5(CAST(d.doc_id AS VARCHAR) || '|' || CAST(k.k AS VARCHAR)), 6, 1)) AS BIGINT) * 28629151) AS BIGINT) % (n.n_docs - 1)) % n.n_docs AS neg_id
  FROM documents d CROSS JOIN k CROSS JOIN n)
SELECT doc_id, CAST(k AS INT) AS k, neg_id FROM pairs
ORDER BY doc_id, k
""",
    doc="qcur7: deterministic negative sampling for contrastive "
    "training — 3 pseudo-random negatives per doc from an md5-ascii-"
    "polynomial "
    "offset in [1, n-1], so neg_id != doc_id by construction and the "
    "SAME negatives reproduce across runs, engines and partitionings "
    "(seeded-rand sampling reproduces across neither). Map-only over "
    "the corpus + one broadcast count; the offset arithmetic assumes "
    "the dense [0, n) id space a curation pipeline's id-assignment "
    "step (deterministic_shuffle_key + row ranks, qcur4) provides.",
    tags=("llm", "curation", "contrastive"),
)
def qcur7_negative_pairs(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    n = docs.agg(F.count("*").alias("n_docs"))
    ks = spark.range(3).select(F.col("id").cast("int").alias("k"))
    md5c = F.md5(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit("|"),
            F.col("k").cast("string"),
        )
    )
    # ascii-polynomial over the first 6 md5 chars: portable to engines
    # without conv()/from_hex->int (DuckDB's from_hex is BLOB-typed)
    hexoff = F.lit(0).cast("bigint")
    for i in range(6):
        # bigint BEFORE the multiply: 31^5 * ascii overflows int32
        # under ANSI arithmetic
        hexoff = hexoff + F.ascii(F.substring(md5c, i + 1, 1)).cast(
            "bigint"
        ) * F.lit(31**i).cast("bigint")
    return (
        docs.select("doc_id")
        .crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "k",
            (
                (
                    F.col("doc_id")
                    + 1
                    + hexoff % (F.col("n_docs") - 1)
                )
                % F.col("n_docs")
            ).alias("neg_id"),
        )
        .orderBy("doc_id", "k")
    )


@query(
    "qdiff2_three_way_merge",
    oracle="""
WITH base AS (SELECT o_orderkey AS k, o_totalprice AS price,
                     o_orderpriority AS prio
              FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'),
ours AS (SELECT k, CASE WHEN k % 7 = 0 THEN round(price * 1.1, 2)
                        ELSE price END AS price, prio
         FROM base WHERE k % 13 <> 0),
theirs AS (SELECT k, price,
                  CASE WHEN k % 5 = 0 THEN 'RUSH' ELSE prio END AS prio
           FROM base WHERE k % 11 <> 0),
do_ AS (SELECT b.k,
               CASE WHEN o.k IS NULL THEN 'removed'
                    WHEN o.price <> b.price OR o.prio <> b.prio
                      THEN 'changed' END AS ours_change
        FROM base b LEFT JOIN ours o ON b.k = o.k),
dt_ AS (SELECT b.k,
               CASE WHEN t.k IS NULL THEN 'removed'
                    WHEN t.price <> b.price OR t.prio <> b.prio
                      THEN 'changed' END AS theirs_change
        FROM base b LEFT JOIN theirs t ON b.k = t.k),
j AS (SELECT COALESCE(do_.k, dt_.k) AS o_orderkey,
             do_.ours_change, dt_.theirs_change
      FROM (SELECT * FROM do_ WHERE ours_change IS NOT NULL) do_
      FULL OUTER JOIN (SELECT * FROM dt_ WHERE theirs_change IS NOT NULL)
        dt_ ON do_.k = dt_.k)
SELECT o_orderkey, ours_change, theirs_change,
       CASE WHEN ours_change IS NOT NULL AND theirs_change IS NOT NULL
              THEN 'conflict'
            WHEN ours_change IS NOT NULL THEN 'ours'
            ELSE 'theirs' END AS resolution
FROM j ORDER BY o_orderkey
""",
    doc="qdiff2: three-way merge classification (operators/diff.py "
    "three_way_merge_classes) — two branches edit the same base "
    "(ours reprices every 7th key and deletes every 13th; theirs "
    "re-prioritizes every 5th and deletes every 11th); keys touched "
    "by both are CONFLICTS, one-sided edits adopt that side. The "
    "concurrent-writer reconciliation a lakehouse needs before "
    "auto-merging; output bounded by change volume. The overlap "
    "structure is non-degenerate by construction (lcm collisions: "
    "35, 91, 55, 77...).",
    tags=("pipeline", "cdc", "merge"),
)
def qdiff2_three_way_merge(spark, sf_dir):
    from sora_spark.operators.diff import three_way_merge_classes

    orders = tables(spark, sf_dir).orders
    cutoff = F.lit("1997-01-01").cast("timestamp")
    base = orders.filter(F.col("o_orderdate") < cutoff).select(
        F.col("o_orderkey"), F.col("o_totalprice"), F.col("o_orderpriority")
    )
    k = F.col("o_orderkey")
    ours = base.filter(k % 13 != 0).withColumn(
        "o_totalprice",
        F.when(k % 7 == 0, F.round(F.col("o_totalprice") * 1.1, 2)).otherwise(
            F.col("o_totalprice")
        ),
    )
    theirs = base.filter(k % 11 != 0).withColumn(
        "o_orderpriority",
        F.when(k % 5 == 0, F.lit("RUSH")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    return three_way_merge_classes(
        base, ours, theirs, ["o_orderkey"]
    ).orderBy("o_orderkey")


@query(
    "qcur8_packing_gate",
    oracle="""
WITH RECURSIVE d AS (SELECT doc_id, len(string_split(text, ' ')) AS n
                     FROM documents),
o AS (SELECT doc_id, n, row_number() OVER (ORDER BY doc_id) AS rn FROM d),
walk(rn, doc_id, n, fill, bin) AS (
  SELECT rn, doc_id, n, least(n, 120), 0 FROM o WHERE rn = 1
  UNION ALL
  SELECT o.rn, o.doc_id, o.n,
         CASE WHEN w.fill + least(o.n, 120) > 120
              THEN least(o.n, 120)
              ELSE w.fill + least(o.n, 120) END,
         CASE WHEN w.fill + least(o.n, 120) > 120
              THEN w.bin + 1 ELSE w.bin END
  FROM walk w JOIN o ON o.rn = w.rn + 1)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, CAST(bin AS BIGINT) AS bin_id
FROM walk ORDER BY doc_id
""",
    doc="qcur8: the sequence-packing GREEDY SEMANTICS under the hash "
    "gate — llm/curate.pack_documents run single-partition in doc_id "
    "order (pid 0, so bin ids are the raw greedy sequence) against a "
    "linear recursive-walk oracle reproducing the exact fill/reset/"
    "oversize-cap rules (budget 120, ~2 docs per bin at fixture "
    "lengths). The multi-partition form stays the scale path (greedy "
    "WITHIN partitions, unit-tested): a global greedy order would "
    "serialize the corpus — this row certifies the per-worker "
    "algebra, not a global sort.",
    tags=("llm", "curation", "packing"),
)
def qcur8_packing_gate(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    sized = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    ).coalesce(1)
    return (
        curate.pack_documents(
            sized, token_budget=120, token_col="n_tokens"
        )
        .orderBy("doc_id")
    )


@query(
    "qev6_cumulative_reach",
    oracle="""
WITH f AS (SELECT user_id, min(date_trunc('day', ts)) AS d
           FROM events WHERE event_type = 'purchase' GROUP BY user_id),
per_day AS (SELECT d, count(*) AS n_new FROM f GROUP BY d)
SELECT strftime(d, '%Y-%m-%d') AS day,
       CAST(n_new AS BIGINT) AS n_new,
       CAST(sum(n_new) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_reach
FROM per_day ORDER BY day
""",
    doc="qev6: cumulative purchaser reach — running count of DISTINCT "
    "users whose first PURCHASE fell on or before each day, computed "
    "the scale-correct way: first-qualifying-event day per user (one "
    "aggregation), new-user counts per day, cumulative sum over the "
    "DAY-COUNT-sized series. The naive form (running count(DISTINCT) "
    "over an expanding window) keeps a user-set per frame — state "
    "linear in users; this shape's window input is calendar-sized "
    "regardless of user count. Purchase-qualified since r07 (VERDICT "
    "r06 item 6): the all-events curve collapsed to 2 points on this "
    "fixture; first purchases spread over 11 days at sf0.01 / 16 at "
    "sf0.1, so the gate certifies a real reach curve.",
    tags=("events", "reach"),
)
def qev6_cumulative_reach(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    f = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.date_trunc("day", "ts")).alias("d"))
    )
    per_day = f.groupBy("d").agg(F.count("*").alias("n_new"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_day.select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("n_new").cast("bigint").alias("n_new"),
            F.sum("n_new").over(w).cast("bigint").alias("cum_reach"),
        )
        .orderBy("day")
    )


@query(
    "qts4_dow_profile",
    oracle="""
WITH e AS (SELECT isodow(ts) AS dow, date_trunc('day', ts) AS day, value
           FROM events)
SELECT CAST(dow AS INT) AS dow,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT day) AS BIGINT) AS n_days,
       round(count(*) * 1.0 / count(DISTINCT day), 4) AS events_per_day,
       round(avg(value), 4) AS avg_value
FROM e GROUP BY dow ORDER BY dow
""",
    doc="qts4: day-of-week seasonality profile of the event stream — "
    "per ISO weekday (1=Mon..7=Sun): event count, distinct active "
    "days, normalized events/day (the seasonal index a capacity "
    "planner reads) and mean value. The calendar-profile companion "
    "to qts1/qts2: one map-side weekday derivation + one 7-group "
    "aggregation with map-side combine — output is calendar-sized "
    "regardless of event volume, the correct 100 TB shape. "
    "events_per_day is a quotient of exact integer counts; avg_value "
    "is rounded at 4dp (sum error ~1e-12 at this magnitude).",
    tags=("events", "timeseries", "seasonality"),
)
def qts4_dow_profile(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    e = ev.select(
        (F.weekday("ts") + 1).alias("dow"),
        F.date_trunc("day", "ts").alias("day"),
        "value",
    )
    return (
        e.groupBy("dow")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.count_distinct("day").cast("bigint").alias("n_days"),
            F.round(F.count("*") / F.count_distinct("day"), 4).alias(
                "events_per_day"
            ),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .select(F.col("dow").cast("int").alias("dow"), "n_events",
                "n_days", "events_per_day", "avg_value")
        .orderBy("dow")
    )


@query(
    "qiv2_interval_union",
    oracle="""
WITH iv AS (SELECT o_custkey AS k,
                   CAST(date_diff('day', DATE '2024-01-01',
                                  CAST(o_orderdate AS DATE)) AS BIGINT)
                     AS s0
            FROM orders),
iv2 AS (SELECT k, s0 AS s, s0 + 7 AS e FROM iv),
m AS (SELECT k, s, e,
             max(e) OVER (PARTITION BY k ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pme
      FROM iv2),
mk AS (SELECT k, s, e,
              CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS ni
       FROM m),
isl AS (SELECT k, s, e,
               sum(ni) OVER (PARTITION BY k ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS island
        FROM mk),
sp AS (SELECT k, island, min(s) AS ms, max(e) AS me
       FROM isl GROUP BY k, island)
SELECT k AS o_custkey,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(me - ms) AS BIGINT) AS covered_len
FROM sp GROUP BY k ORDER BY o_custkey
""",
    doc="qiv2: merged-interval coverage (operators/interval.py "
    "interval_union) — each order opens a 7-day [start, end) activity "
    "window per customer; overlapping/adjacent windows merge into "
    "islands, output = islands + total covered days per customer. THE "
    "union-of-intervals op (covered bases per chromosome, uptime per "
    "service) in its only scalable shape: one key-shuffle windowed "
    "sweep (running max of prior ends marks island starts, cumulative "
    "sum assigns island ids) + a same-key aggregation — never the n² "
    "pairwise overlap self-join. Day offsets are exact integers, so "
    "no float enters the gate.",
    tags=("interval", "timeseries", "sweep"),
)
def qiv2_interval_union(spark, sf_dir):
    from sora_spark.operators.interval import interval_union

    o = tables(spark, sf_dir).orders
    iv = o.select(
        F.col("o_custkey"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("2024-01-01").cast("date")
        ).cast("bigint").alias("s"),
    ).select("o_custkey", "s", (F.col("s") + 7).alias("e"))
    return (
        interval_union(iv, "o_custkey", "s", "e")
        .orderBy("o_custkey")
    )


@query(
    "qts5_cusum_changepoint",
    oracle="""
WITH daily AS (SELECT date_trunc('day', ts) AS day, count(*) AS n
               FROM events GROUP BY day),
tot AS (SELECT CAST(count(*) AS BIGINT) AS k_days,
               CAST(sum(n) AS BIGINT) AS total FROM daily),
cur AS (SELECT day, n,
               row_number() OVER (ORDER BY day) AS k,
               sum(n) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS pre
        FROM daily),
sc AS (SELECT day, n, t.k_days * pre - k * t.total AS cusum_scaled
       FROM cur CROSS JOIN tot t),
mx AS (SELECT min(day) AS cp FROM sc
       WHERE abs(cusum_scaled) = (SELECT max(abs(cusum_scaled)) FROM sc))
SELECT strftime(s.day, '%Y-%m-%d') AS day,
       CAST(s.n AS BIGINT) AS n_events,
       CAST(s.cusum_scaled AS BIGINT) AS cusum_scaled,
       CAST(s.day = m.cp AS BOOLEAN) AS is_changepoint
FROM sc s CROSS JOIN mx m ORDER BY s.day
""",
    doc="qts5: CUSUM change-point detection over the daily event "
    "series — the level-shift detector every pipeline-health monitor "
    "runs. Computed ENTIRELY in integers: the classic "
    "CUSUM_k = prefix_k − k·mean is scaled by the day count "
    "(K·prefix_k − k·total), so no float ever enters the gate; the "
    "change point is the max-|CUSUM| day (tie → earliest). One "
    "calendar-sized aggregation + windows over the day-count-sized "
    "series + a broadcast 1-row max — event volume only affects the "
    "first groupBy (map-side combined).",
    tags=("events", "timeseries", "changepoint"),
)
def qts5_cusum_changepoint(spark, sf_dir):
    from pyspark.sql.window import Window

    ev = tables(spark, sf_dir).events
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    tot = daily.agg(
        F.count("*").cast("bigint").alias("k_days"),
        F.sum("n").cast("bigint").alias("total"),
    )
    w = Window.orderBy("day")
    cur = daily.select(
        "day",
        "n",
        F.row_number().over(w).alias("k"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "pre"
        ),
    )
    sc = cur.crossJoin(F.broadcast(tot)).select(
        "day",
        "n",
        (F.col("k_days") * F.col("pre") - F.col("k") * F.col("total")).alias(
            "cusum_scaled"
        ),
    )
    mx = sc.agg(F.max(F.abs("cusum_scaled")).alias("mabs"))
    cp = (
        sc.crossJoin(F.broadcast(mx))
        .filter(F.abs("cusum_scaled") == F.col("mabs"))
        .agg(F.min("day").alias("cp"))
    )
    return (
        sc.crossJoin(F.broadcast(cp))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n").cast("bigint").alias("n_events"),
            F.col("cusum_scaled").cast("bigint").alias("cusum_scaled"),
            (F.col("day") == F.col("cp")).alias("is_changepoint"),
        )
        .orderBy("day")
    )


@query(
    "qev7_markov_transitions",
    oracle="""
WITH s AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events)
SELECT event_type AS src, nxt AS dst, count(*) AS n,
       round(count(*)::DOUBLE
             / sum(count(*)) OVER (PARTITION BY event_type), 6) AS p
FROM s WHERE nxt IS NOT NULL
GROUP BY src, dst ORDER BY src, dst
""",
    doc="qev7: first-order Markov transition matrix of user behavior — "
    "P(next event_type | event_type) from per-user event sequences "
    "(lead over (ts, event_id) — the unique id breaks timestamp ties "
    "identically on both engines), the generative summary behind "
    "qev3's literal top journeys. Row-normalized via a window sum "
    "over the transition counts, so no second aggregation pass. One "
    "shuffle on user_id for the sequence, one on the (src) pair "
    "grouping — both map-side combinable; the matrix itself is "
    "|types|² — driver-tiny at any corpus scale.",
    tags=("events", "sequence", "markov"),
)
def qev7_markov_transitions(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    counts = s.groupBy(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    ).agg(F.count("*").alias("n"))
    wsum = Window.partitionBy("src")
    return counts.select(
        "src",
        "dst",
        "n",
        F.round(F.col("n") / F.sum("n").over(wsum), 6).alias("p"),
    ).orderBy("src", "dst")


@query(
    "qprof2_association_stats",
    oracle="""
WITH j AS (SELECT l_returnflag AS x, l_linestatus AS y,
                  count(*)::DOUBLE AS nxy
           FROM lineitem GROUP BY x, y),
t AS (SELECT sum(nxy) AS n, count(*) AS n_cells,
             count(DISTINCT x) AS kx, count(DISTINCT y) AS ky FROM j),
mx AS (SELECT x, sum(nxy) AS nx FROM j GROUP BY x),
my AS (SELECT y, sum(nxy) AS ny FROM j GROUP BY y)
SELECT CAST(max(t.n_cells) AS BIGINT) AS n_cells,
       round(sum((j.nxy / t.n) * ln((j.nxy * t.n) / (mx.nx * my.ny))), 6)
         AS mutual_info,
       round(sum((j.nxy - mx.nx * my.ny / t.n) ^ 2
                 / (mx.nx * my.ny / t.n)), 4) AS chi2,
       round(sqrt(sum((j.nxy - mx.nx * my.ny / t.n) ^ 2
                      / (mx.nx * my.ny / t.n))
                  / (max(t.n) * (least(max(t.kx), max(t.ky)) - 1))), 6)
         AS cramers_v
FROM j JOIN t ON true JOIN mx ON j.x = mx.x JOIN my ON j.y = my.y
""",
    doc="qprof2: categorical association statistics — mutual "
    "information, chi-square, and Cramér's V between returnflag and "
    "linestatus, the profiler companion to qdrift1 (is this pair of "
    "columns redundant / independent / leaking?). Everything derives "
    "from ONE contingency-table aggregation (|X|·|Y| cells); the "
    "marginals and the three statistics are arithmetic over that "
    "driver-tiny table, broadcast-joined — at 100 TB the cost is "
    "exactly one groupBy. Chi-square only where expected>0 by "
    "construction (marginal products of observed cells). MI in nats, "
    "round(6); chi2 round(4) (magnitude ~n).",
    tags=("profile", "stats", "association"),
)
def qprof2_association_stats(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    j = li.groupBy(
        F.col("l_returnflag").alias("x"), F.col("l_linestatus").alias("y")
    ).agg(F.count("*").cast("double").alias("nxy"))
    t = j.agg(
        F.sum("nxy").alias("n"),
        F.count("*").alias("n_cells"),
        F.countDistinct("x").alias("kx"),
        F.countDistinct("y").alias("ky"),
    )
    mx = j.groupBy("x").agg(F.sum("nxy").alias("nx"))
    my = j.groupBy("y").agg(F.sum("nxy").alias("ny"))
    cells = (
        j.join(F.broadcast(t))
        .join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
    )
    e = F.col("nx") * F.col("ny") / F.col("n")
    chi2_term = (F.col("nxy") - e) ** 2 / e
    mi_term = (F.col("nxy") / F.col("n")) * F.log(
        F.col("nxy") * F.col("n") / (F.col("nx") * F.col("ny"))
    )
    return cells.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.round(F.sum(mi_term), 6).alias("mutual_info"),
        F.round(F.sum(chi2_term), 4).alias("chi2"),
        F.round(
            F.sqrt(
                F.sum(chi2_term)
                / (F.max("n") * (F.least(F.max("kx"), F.max("ky")) - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


@query(
    "qcur10_stratified_split",
    oracle="""
WITH d AS (
  SELECT label, vec_id,
         row_number() OVER (
           PARTITION BY label
           ORDER BY md5(CAST(vec_id AS VARCHAR) || '-strat7'), vec_id) AS rk,
         count(*) OVER (PARTITION BY label) AS n
  FROM embeddings)
SELECT label,
       CASE WHEN rk <= ceil(0.8 * n) THEN 'train' ELSE 'val' END AS split,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(vec_id) AS BIGINT) AS sum_ids
FROM d GROUP BY label, split ORDER BY label, split
""",
    doc="qcur10: EXACT stratified split — within each label stratum, "
    "rank rows by md5(id || salt) (hash order = reproducible shuffle, "
    "the qcur4 trick) and allocate the first ceil(0.8·n) to train: "
    "every stratum lands exactly 80/20 regardless of size, the "
    "guarantee qcur1's global hash-threshold split only approximates. "
    "sum(vec_id) gates the exact membership, not just the counts. "
    "One shuffle on the stratum key; per-stratum window state is a "
    "rank counter. The 100 TB caveat is real and documented: exact "
    "allocation needs the per-stratum rank (sort within stratum), so "
    "it costs a per-group sort where qcur1 is map-only — use it for "
    "label-balanced eval carve-outs, not petabyte train splits.",
    tags=("llm", "pipeline", "split", "stratified"),
)
def qcur10_stratified_split(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    w = Window.partitionBy("label").orderBy(
        F.md5(F.concat(F.col("vec_id").cast("string"), F.lit("-strat7"))),
        "vec_id",
    )
    wn = Window.partitionBy("label")
    d = emb.select(
        "label",
        "vec_id",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(wn).alias("n"),
    )
    return (
        d.select(
            "label",
            F.when(
                F.col("rk") <= F.ceil(0.8 * F.col("n")), F.lit("train")
            )
            .otherwise(F.lit("val"))
            .alias("split"),
            "vec_id",
        )
        .groupBy("label", "split")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("vec_id").cast("bigint").alias("sum_ids"),
        )
        .orderBy("label", "split")
    )


@query(
    "qdiff3_table_fingerprint",
    oracle="""
WITH h AS (
  SELECT md5(concat_ws('|',
           CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
           o_orderstatus, o_orderpriority,
           strftime(o_orderdate, '%Y-%m-%d'))) AS hx
  FROM orders)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(concat('0x', substr(hx, 1, 10)) AS BIGINT)) AS BIGINT)
         AS fp_lane1,
       CAST(sum(CAST(concat('0x', substr(hx, 11, 10)) AS BIGINT)) AS BIGINT)
         AS fp_lane2,
       CAST(count(DISTINCT hx) AS BIGINT) AS n_distinct
FROM h
""",
    doc="qdiff3: order-insensitive table content fingerprint — "
    "sum-of-row-hashes over a canonical string encoding (md5 of "
    "'|'-joined typed columns; dates formatted, no floats in the "
    "encoding — double→string formatting is NOT portable across "
    "engines). Two independent 40-bit lanes summed as bigint give "
    "~80-bit collision resistance while staying inside exact int64 "
    "range up to ~10^7 rows per lane (document the bound; beyond "
    "that, sum each lane per bucket and fingerprint the bucket "
    "table). This is the replication/migration verifier: two "
    "engines (or two clusters) agree on content without moving a "
    "row — exactly how this repo's own engine twin would be "
    "validated against a second deployment at 100 TB. Map-side "
    "mergeable; one 1-row aggregate.",
    tags=("pipeline", "fingerprint", "diff"),
)
def qdiff3_table_fingerprint(spark, sf_dir):
    o = tables(spark, sf_dir).orders
    hx = F.md5(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            "o_orderstatus",
            "o_orderpriority",
            F.date_format("o_orderdate", "yyyy-MM-dd"),
        )
    )
    h = o.select(hx.alias("hx"))
    lane = lambda lo: F.conv(F.substring("hx", lo, 10), 16, 10).cast("bigint")
    return h.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(lane(1)).cast("bigint").alias("fp_lane1"),
        F.sum(lane(11)).cast("bigint").alias("fp_lane2"),
        F.countDistinct("hx").cast("bigint").alias("n_distinct"),
    )


@query(
    "qdz3_target_encoding",
    oracle="""
WITH g AS (SELECT avg(o_totalprice) AS gm FROM orders),
c AS (SELECT o_orderpriority, count(*)::DOUBLE AS n,
             sum(o_totalprice) AS s
      FROM orders GROUP BY o_orderpriority)
SELECT c.o_orderpriority AS priority,
       CAST(c.n AS BIGINT) AS n,
       round((c.s + 20.0 * g.gm) / (c.n + 20.0), 4) AS encoded,
       round(c.s / c.n - g.gm, 4) AS raw_lift
FROM c CROSS JOIN g ORDER BY priority
""",
    doc="qdz3: smoothed target encoding — the categorical→numeric "
    "feature transform (mean target per category shrunk toward the "
    "global mean with prior weight m=20), the leakage-prone idiom "
    "qcur10's exact split exists to protect. Two aggregates (global "
    "mean, per-category sums) + a broadcast of the 1-row prior; the "
    "encode table is |categories| rows, broadcast back over the "
    "training data for the actual transform at any scale. raw_lift "
    "(unsmoothed minus global) is gated alongside so the shrinkage "
    "arithmetic itself is certified, not just the blend.",
    tags=("pipeline", "feature", "encoding"),
)
def qdz3_target_encoding(spark, sf_dir):
    o = tables(spark, sf_dir).orders
    g = o.agg(F.avg("o_totalprice").alias("gm"))
    c = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count("*").cast("double").alias("n"),
        F.sum("o_totalprice").alias("s"),
    )
    return (
        c.crossJoin(F.broadcast(g))
        .select(
            "priority",
            F.col("n").cast("bigint").alias("n"),
            F.round(
                (F.col("s") + 20.0 * F.col("gm")) / (F.col("n") + 20.0), 4
            ).alias("encoded"),
            F.round(F.col("s") / F.col("n") - F.col("gm"), 4).alias(
                "raw_lift"
            ),
        )
        .orderBy("priority")
    )


@query(
    "qev8_stickiness",
    oracle="""
WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day
            FROM events),
dau AS (SELECT day, count(*)::BIGINT AS dau FROM ud GROUP BY day),
w AS (SELECT d.day, u.user_id
      FROM (SELECT DISTINCT day FROM ud) d
      JOIN ud u ON u.day <= d.day AND u.day > d.day - INTERVAL 7 DAY),
wau AS (SELECT day, count(DISTINCT user_id)::BIGINT AS wau
        FROM w GROUP BY day)
SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
       round(dau.dau / CAST(wau.wau AS DOUBLE), 6) AS stickiness
FROM dau JOIN wau ON dau.day = wau.day
ORDER BY day
""",
    doc="qev8: DAU/WAU stickiness — daily active users over trailing-"
    "7-day active users, the engagement ratio every events product "
    "reports. The Spark side uses the SCALE shape, not the oracle's "
    "range join: dedupe to (user, day) once, then each user-day "
    "EXPLODES into the <=7 window-end days it supports (map-side ×7, "
    "no day×history join) and a second distinct count per target "
    "day. Exact tier; at 100 TB the same dataflow swaps the second "
    "distinct for per-day HLL sketch merges (capability-tier "
    "approx_count_distinct covers the estimator). Output restricted "
    "to days with actual activity, so both engines agree on the "
    "domain.",
    tags=("events", "timeseries", "engagement"),
)
def qev8_stickiness(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(F.count("*").cast("bigint").alias("dau"))
    target = ud.select(
        "user_id",
        F.explode(
            F.expr("sequence(to_date(day), date_add(to_date(day), 6))")
        ).alias("tday"),
    )
    wau = target.groupBy("tday").agg(
        F.countDistinct("user_id").cast("bigint").alias("wau")
    )
    return (
        dau.join(wau, F.to_date("day") == F.col("tday"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )


@query(
    "qup5_merge_tri_state",
    oracle="""
WITH target AS (SELECT o_orderkey AS k, o_totalprice AS price
                FROM orders WHERE o_orderkey % 3 != 0),
source AS (SELECT o_orderkey AS k, o_totalprice + 1000.0 AS price
           FROM orders WHERE o_orderkey % 2 = 0),
merged AS (
  SELECT coalesce(t.k, s.k) AS k,
         CASE WHEN t.k IS NOT NULL AND s.k IS NOT NULL THEN 'update'
              WHEN s.k IS NOT NULL THEN 'insert'
              ELSE 'delete' END AS action,
         CASE WHEN s.k IS NOT NULL THEN s.price ELSE t.price END AS price
  FROM target t FULL JOIN source s ON t.k = s.k)
SELECT action, CAST(count(*) AS BIGINT) AS n,
       round(sum(price), 2) AS sum_price,
       CAST(min(k) AS BIGINT) AS min_key
FROM merged GROUP BY action ORDER BY action
""",
    doc="qup5: tri-state MERGE — WHEN MATCHED UPDATE / WHEN NOT "
    "MATCHED INSERT / WHEN NOT MATCHED BY SOURCE DELETE, the full "
    "Delta/Iceberg MERGE INTO contract expressed as ONE full-outer "
    "join + action tagging (qup1 covers upsert = the first two arms; "
    "the delete-missing arm is what full-sync replication needs). "
    "Deterministic target/source carved from orders by key residue "
    "so all three arms are non-empty. The action histogram + "
    "per-action price sums + min key certify the routing exactly. "
    "One shuffle on the merge key; rows tagged 'delete' are the "
    "anti-join complement — at 100 TB the same plan drives the "
    "rewrite of only the files whose keys appear in source "
    "(qlay1's file-skipping composes here).",
    tags=("pipeline", "merge", "cdc"),
)
def qup5_merge_tri_state(spark, sf_dir):
    o = tables(spark, sf_dir).orders
    target = o.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("price")
    )
    source = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("k"),
        # +1000.0 is EXACT in double on both engines; a *1.1-then-round
        # source price diverged at half-way cases (the qw10 float trap)
        (F.col("o_totalprice") + 1000.0).alias("price"),
    )
    t, s = target.alias("t"), source.alias("s")
    merged = t.join(s, F.col("t.k") == F.col("s.k"), "full_outer").select(
        F.coalesce("t.k", "s.k").alias("k"),
        F.when(
            F.col("t.k").isNotNull() & F.col("s.k").isNotNull(), "update"
        )
        .when(F.col("s.k").isNotNull(), "insert")
        .otherwise("delete")
        .alias("action"),
        F.when(F.col("s.k").isNotNull(), F.col("s.price"))
        .otherwise(F.col("t.price"))
        .alias("price"),
    )
    return (
        merged.groupBy("action")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("price"), 2).alias("sum_price"),
            F.min("k").cast("bigint").alias("min_key"),
        )
        .orderBy("action")
    )


@query(
    "qev9_linear_attribution",
    oracle="""
WITH pair AS (
  SELECT p.event_id AS purchase_id, p.value AS revenue,
         v.event_id AS view_id,
         count(*) OVER (PARTITION BY p.event_id) AS n_touch
  FROM events p JOIN events v
    ON p.user_id = v.user_id
   AND v.ts <= p.ts AND v.ts > p.ts - INTERVAL 1 HOUR
  WHERE p.event_type = 'purchase' AND v.event_type = 'view'),
credit AS (
  SELECT view_id, revenue / n_touch AS credit FROM pair)
SELECT CAST(count(DISTINCT view_id) AS BIGINT) AS n_views_credited,
       CAST(count(*) AS BIGINT) AS n_credits,
       round(sum(credit), 2) AS total_attributed
FROM credit
""",
    doc="qev9: LINEAR multi-touch attribution — each purchase's "
    "revenue split equally across every same-user view in the "
    "preceding hour (the qs5b join reused as a marketing model; "
    "first/last-touch are the qj8/qj8c asof specializations of the "
    "same shape). The per-purchase touch count is a window over the "
    "join output — no second aggregation pass — and "
    "total_attributed must reconstruct exactly the revenue of "
    "every attributed purchase, which is THE conservation "
    "invariant attribution pipelines are audited on (certified "
    "here through round(2) at the corpus sum). Interval-bounded "
    "equi-join: hot users fan out by views-per-hour, never all "
    "history.",
    tags=("events", "attribution", "join"),
)
def qev9_linear_attribution(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
        F.col("value").alias("revenue"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("vts"),
    )
    pair = p.join(
        v,
        (F.col("pu") == F.col("vu"))
        & (F.col("vts") <= F.col("pts"))
        & (F.col("vts") > F.col("pts") - F.expr("INTERVAL 1 HOUR")),
    ).select(
        "purchase_id",
        "revenue",
        "view_id",
        F.count("*").over(Window.partitionBy("purchase_id")).alias("n_touch"),
    )
    credit = pair.select(
        "view_id", (F.col("revenue") / F.col("n_touch")).alias("credit")
    )
    return credit.agg(
        F.countDistinct("view_id").cast("bigint").alias("n_views_credited"),
        F.count("*").cast("bigint").alias("n_credits"),
        F.round(F.sum("credit"), 2).alias("total_attributed"),
    )


@query(
    "qev10_cohort_ltv",
    oracle="""
WITH first_p AS (
  SELECT user_id, min(date_trunc('day', ts)) AS cohort
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
rev AS (
  SELECT f.cohort,
         date_diff('day', f.cohort, date_trunc('day', e.ts)) AS age,
         e.value AS revenue
  FROM events e JOIN first_p f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase'
    AND date_trunc('day', e.ts) >= f.cohort),
cum AS (
  SELECT cohort, age, sum(revenue) AS day_rev
  FROM rev GROUP BY cohort, age)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort, CAST(age AS BIGINT) AS age,
       round(sum(day_rev) OVER (PARTITION BY cohort ORDER BY age
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW), 2) AS cum_revenue
FROM cum ORDER BY cohort, age
""",
    doc="qev10: cohort LTV curves — cumulative purchase revenue per "
    "acquisition cohort (first-purchase day) by cohort AGE: the "
    "revenue companion to qev2's retention triangle (users counted "
    "there, dollars accumulated here). First-purchase derivation is "
    "one user-keyed aggregate broadcast back over purchases; the "
    "curve is a per-cohort running sum over the (cohort, age) "
    "rollup — calendar-sized state, so the window is free at any "
    "corpus scale. The monotone cum_revenue sequence certifies "
    "ordering AND accumulation per cohort.",
    tags=("events", "cohort", "ltv"),
)
def qev10_cohort_ltv(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.date_trunc("day", "ts").alias("day"), "value"
    )
    first_p = p.groupBy("user_id").agg(F.min("day").alias("cohort"))
    # NO broadcast hint: first_p is user-cardinality (unbounded at
    # scale) — the shuffle hash join on user_id is the scale-safe shape
    rev = p.join(first_p, "user_id").select(
        "cohort",
        F.datediff(F.col("day"), F.col("cohort")).cast("bigint").alias("age"),
        F.col("value").alias("revenue"),
    )
    cum = rev.groupBy("cohort", "age").agg(F.sum("revenue").alias("day_rev"))
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cum.select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            "age",
            F.round(F.sum("day_rev").over(w), 2).alias("cum_revenue"),
        )
        .orderBy("cohort", "age")
    )


@query(
    "qev11_windowed_funnel",
    oracle="""
WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click'
        AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 24 HOUR
      GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 24 HOUR
      GROUP BY e.user_id)
SELECT * FROM (
  SELECT 0 AS stage_idx, 'view' AS stage,
         CAST((SELECT count(*) FROM v) AS BIGINT) AS n_users
  UNION ALL
  SELECT 1, 'click_24h', CAST((SELECT count(*) FROM c) AS BIGINT)
  UNION ALL
  SELECT 2, 'purchase_24h', CAST((SELECT count(*) FROM p) AS BIGINT)) u
ORDER BY stage_idx
""",
    doc="qev11: TIME-CONSTRAINED funnel — qev1's ordered stages with a "
    "24-hour conversion window per hop (click within 24h of first "
    "view, purchase within 24h of that click): the funnel product "
    "teams actually ship, where an eventual conversion a week later "
    "does NOT count. Window calibrated against the ~16-day fixture "
    "span so every stage is BINDING and non-zero at sf0.01 "
    "(150/60/25; a 2h window degenerated to 0 conversions — the "
    "qev6 fixture lesson applied at authoring time). Same "
    "one-exchange user_id co-partitioned chain; the interval bound "
    "is a residual predicate on the equi-join, never a range-join "
    "blowup (the qev9/qix4 plan-pin family).",
    tags=("events", "funnel", "windowed"),
)
def qev11_windowed_funnel(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 24 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 24 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    spark_ = ev.sparkSession
    # each stage feeds the next AND its own count: checkpoint so the
    # three actions don't re-derive the chain (the near_dup_clusters
    # checkpoint rule applied here — review finding)
    v = v.localCheckpoint(eager=True)
    c = c.localCheckpoint(eager=True)
    counts = [v.count(), c.count(), p.count()]
    return spark_.createDataFrame(
        [
            (0, "view", counts[0]),
            (1, "click_24h", counts[1]),
            (2, "purchase_24h", counts[2]),
        ],
        "stage_idx int, stage string, n_users bigint",
    ).orderBy("stage_idx")


@query(
    "qdz7_feature_hashing",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             FROM documents WHERE doc_id < 100),
h AS (SELECT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 16
               AS bucket
      FROM tok),
c AS (SELECT doc_id, bucket, count(*)::BIGINT AS n
      FROM h GROUP BY doc_id, bucket)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_nonzero,
       CAST(max(n) AS BIGINT) AS max_bucket,
       CAST(sum(bucket * n) AS BIGINT) AS weighted_sum
FROM c GROUP BY doc_id ORDER BY doc_id
""",
    doc="qdz7: the feature-hashing trick — tokens mapped to 16 "
    "buckets via md5-prefix mod k, per-doc bucket count vectors "
    "(the HashingVectorizer / fixed-width embedding-free featurizer "
    "that needs NO vocabulary pass, which is its whole point at "
    "100 TB: stateless, mergeable, new tokens never resize "
    "anything). Hash = first 8 md5 hex digits as an integer — "
    "cross-engine exact, and mod 16 of a non-negative value agrees "
    "everywhere. Gate: per-doc nonzero-bucket count, max load, and "
    "the bucket-weighted sum (certifies WHICH buckets, not just "
    "how many). Wordcount-shaped: explode + two mergeable "
    "aggregations.",
    tags=("pipeline", "feature", "hashing"),
)
def qdz7_feature_hashing(spark, sf_dir):
    docs = tables(spark, sf_dir).documents.filter(F.col("doc_id") < 100)
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    h = tok.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
            % 16
        ).alias("bucket"),
    )
    c = h.groupBy("doc_id", "bucket").agg(
        F.count("*").cast("bigint").alias("n")
    )
    return (
        c.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_nonzero"),
            F.max("n").cast("bigint").alias("max_bucket"),
            F.sum(F.col("bucket") * F.col("n"))
            .cast("bigint")
            .alias("weighted_sum"),
        )
        .orderBy("doc_id")
    )


@query(
    "qsmp1_weighted_sample",
    oracle="""
WITH x AS (SELECT l_returnflag AS rf, l_orderkey AS ok,
                  l_linenumber AS ln, CAST(l_quantity AS INT) AS w
           FROM lineitem),
u AS (SELECT rf, ok, ln, w,
             max(md5(ok || ':' || ln || ':' || w || ':' || j)) AS mk
      FROM x, unnest(range(1, w + 1)) AS t(j)
      GROUP BY rf, ok, ln, w),
r AS (SELECT *, row_number() OVER (PARTITION BY rf
                                   ORDER BY mk DESC, ok, ln, w) AS rn
      FROM u)
SELECT rf AS l_returnflag, CAST(rn AS INT) AS rn, ok AS l_orderkey,
       ln AS l_linenumber, w AS weight
FROM r WHERE rn <= 3 ORDER BY rf, rn
""",
    doc="qsmp1: weighted sampling WITHOUT replacement, k=3 per return "
    "flag, inclusion probability proportional to integer weight "
    "(quantity) - the Efraimidis-Spirakis A-RES scheme made "
    "DETERMINISTIC and cross-engine exact: each row's sort key is the "
    "max of w salted md5 hashes (md5(ok:ln:w:j), j=1..w; the weight "
    "joins the identity because (orderkey, linenumber) is NOT unique "
    "in the fixture - equal keys would tie nondeterministically), and "
    "the max "
    "of w iid uniforms is distributed as u^(1/w) - exactly the A-RES "
    "key - while md5 string comparison involves no floating point at "
    "all (the pow/ln formulations would hash-diverge at the ulp "
    "level). Shape: in-row sequence(1,w) explode (fan-out bounded by "
    "max weight 50), partial max per row, one per-group top-k window "
    "- the same map-side-combine + TakeOrdered economics as qtk1; at "
    "100 TB huge weights switch to one log-uniform key per row, same "
    "distribution, this query pins the integer-weight contract.",
    tags=("sampling", "weighted", "curation"),
)
def qsmp1_weighted_sample(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    x = li.select(
        F.col("l_returnflag").alias("rf"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_quantity").cast("int").alias("w"),
    )
    # sequence(1, w) runs DESCENDING for w <= 0 (step defaults to -1),
    # which would diverge from the oracle's empty range(1, w+1) — guard
    # so non-positive weights are excluded on both sides alike (review
    # finding; latent on this fixture, quantity >= 1)
    u = (
        x.filter(F.col("w") >= 1)
        .select(
            "rf", "ok", "ln", "w",
            F.explode(F.sequence(F.lit(1), F.col("w"))).alias("j"),
        )
        .select(
            "rf", "ok", "ln", "w",
            F.md5(F.concat_ws(":", "ok", "ln", "w", "j")).alias("h"),
        )
        .groupBy("rf", "ok", "ln", "w")
        .agg(F.max("h").alias("mk"))
    )
    rn = F.row_number().over(
        Window.partitionBy("rf").orderBy(F.desc("mk"), "ok", "ln", "w")
    )
    return (
        u.withColumn("rn", rn)
        .filter(F.col("rn") <= 3)
        .select(
            F.col("rf").alias("l_returnflag"),
            F.col("rn").cast("int").alias("rn"),
            F.col("ok").alias("l_orderkey"),
            F.col("ln").alias("l_linenumber"),
            F.col("w").alias("weight"),
        )
        .orderBy("l_returnflag", "rn")
    )


@query(
    "qpipe4_curation_gates_pipeline",
    oracle="""
WITH tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
             FROM documents),
wc AS (SELECT doc_id, source, term, count(*) AS c, length(term) AS wl
       FROM tok GROUP BY doc_id, source, term),
st AS (SELECT doc_id, source, sum(c) AS n, count(*) AS dn, max(c) AS maxc,
              sum(c * wl) AS sum_wl
       FROM wc GROUP BY doc_id, source),
q1 AS (SELECT doc_id, source, n,
              ((n BETWEEN 30 AND 90) AND dn * 10 >= n * 4 AND maxc * 5 <= n
               AND sum_wl * 10 >= n * 39 AND sum_wl * 10 <= n * 52)
                AS rules_ok
       FROM st),
w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
bg AS (SELECT doc_id, w[i] AS a, w[i + 1] AS b
       FROM (SELECT doc_id, unnest(range(1, greatest(len(w), 1))) AS i, w
             FROM w)),
c2 AS (SELECT a, b, count(*) AS n2 FROM bg GROUP BY a, b),
c1 AS (SELECT a, count(*) AS n1 FROM bg GROUP BY a),
ppl AS (SELECT bg.doc_id,
               round(avg(ln(CAST(n2 AS DOUBLE) / n1)), 6) AS mlp
        FROM bg JOIN c2 USING (a, b) JOIN c1 USING (a)
        GROUP BY bg.doc_id),
sh AS (SELECT DISTINCT doc_id,
              w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                   || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6]
                   || ' ' || w[i+7] AS p
       FROM (SELECT doc_id, unnest(range(1, greatest(len(w) - 6, 1)))
                      AS i, w
             FROM w)),
df AS (SELECT p, count(*) AS n_docs FROM sh GROUP BY p),
dup AS (SELECT sh.doc_id, count(*) AS n_passages,
               sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS n_shared
        FROM sh JOIN df USING (p) GROUP BY sh.doc_id),
gated AS (
  SELECT q1.doc_id, q1.source, q1.n,
         (q1.rules_ok AND COALESCE(ppl.mlp >= -3.42, FALSE)
          AND COALESCE(dup.n_shared * 2 <= dup.n_passages, TRUE)) AS keep
  FROM q1 LEFT JOIN ppl ON ppl.doc_id = q1.doc_id
          LEFT JOIN dup ON dup.doc_id = q1.doc_id)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN keep THEN n ELSE 0 END) AS BIGINT)
         AS kept_tokens
FROM gated GROUP BY source ORDER BY source
""",
    doc="qpipe4: the round-8 curation gates COMPOSED into one pipeline "
    "- rule-based quality (qta17's integer cross-multiplication "
    "rules), bigram-perplexity floor (qta19's calibrated lambda), "
    "and duplicate-passage cap (qd10's document-frequency signal, "
    "boundary-exact as n_shared*2 <= n_passages) -> per-source doc "
    "and token yield, the report a data curator actually ships. "
    "Every stage reuses a derivation whose own declared row is "
    "already hash-certified, so the composition risk is purely the "
    "gating logic; docs without bigrams fail the ppl gate (no "
    "evidence of coherence), docs without passages pass the dup gate "
    "(nothing shared). One pipeline = one pass over the corpus plus "
    "the three wordcount-shaped model tables - the gates share the "
    "tokenize shuffle at 100 TB via cache or re-derive map-side; "
    "nothing here is more than a keyed join against broadcast-or-"
    "bounded model tables.",
    tags=("llm", "pipeline", "curation", "quality"),
)
def qpipe4_curation_gates_pipeline(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    wc = (
        docs.select(
            "doc_id", "source",
            F.explode(F.split("text", " ")).alias("term"),
        )
        .groupBy("doc_id", "source", "term")
        .agg(F.count("*").alias("c"))
        .select("doc_id", "source", "c", F.length("term").alias("wl"))
    )
    st = wc.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("dn"),
        F.max("c").alias("maxc"),
        F.sum(F.col("c") * F.col("wl")).alias("sum_wl"),
    )
    n, dn, maxc, swl = (F.col(c) for c in ("n", "dn", "maxc", "sum_wl"))
    rules_ok = (
        (n >= 30) & (n <= 90)
        & (dn * 10 >= n * 4)
        & (maxc * 5 <= n)
        & (swl * 10 >= n * 39)
        & (swl * 10 <= n * 52)
    )
    q1 = st.select("doc_id", "source", "n", rules_ok.alias("rules_ok"))

    bg = docs.select(
        "doc_id", F.explode(textstats.bigram_pairs(F.col("text"))).alias("p")
    ).select("doc_id", "p.a", "p.b")
    c2 = bg.groupBy("a", "b").agg(F.count("*").alias("n2"))
    c1 = bg.groupBy("a").agg(F.count("*").alias("n1"))
    ppl = (
        bg.join(c2, ["a", "b"])
        .join(c1, "a")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(F.log(F.col("n2").cast("double") / F.col("n1"))), 6
            ).alias("mlp")
        )
    )

    w = F.split(F.col("text"), " ")
    idx = F.when(
        F.size(w) >= 8, F.sequence(F.lit(1), F.size(w) - 7)
    ).otherwise(F.array().cast("array<int>"))
    passages = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(w, i, 8))
    )
    sh = docs.select("doc_id", F.explode(passages).alias("p")).distinct()
    pdf = sh.groupBy("p").agg(F.count("*").alias("n_docs"))
    dup = (
        sh.join(pdf, "p")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_passages"),
            F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).alias(
                "n_shared"
            ),
        )
    )

    keep = (
        F.col("rules_ok")
        & F.coalesce(F.col("mlp") >= -3.42, F.lit(False))
        & F.coalesce(
            F.col("n_shared") * 2 <= F.col("n_passages"), F.lit(True)
        )
    )
    gated = (
        q1.join(ppl, "doc_id", "left")
        .join(dup, "doc_id", "left")
        .select("doc_id", "source", "n", keep.alias("keep"))
    )
    return (
        gated.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
        )
        .orderBy("source")
    )


@query(
    "qdz9_woe_encoding",
    oracle="""
WITH c AS (SELECT o_orderpriority AS cat,
                  sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS n_good,
                  sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                    AS n_bad
           FROM orders GROUP BY cat),
t AS (SELECT sum(n_good) AS tg, sum(n_bad) AS tb FROM c)
SELECT cat AS o_orderpriority,
       CAST(n_good + n_bad AS BIGINT) AS n,
       CAST(n_good AS BIGINT) AS n_good,
       round(ln((n_good * 1.0 / tg) / (n_bad * 1.0 / tb)), 6) AS woe,
       round((n_good * 1.0 / tg - n_bad * 1.0 / tb)
             * ln((n_good * 1.0 / tg) / (n_bad * 1.0 / tb)), 6)
         AS iv_term
FROM c, t ORDER BY cat
""",
    doc="qdz9: weight-of-evidence encoding + information value - the "
    "credit-scoring / feature-selection companion to qdz3's mean "
    "target encoding: per category (order priority) against the "
    "binary target (status = 'F'), WOE = ln(P(cat|good)/P(cat|bad)) "
    "and the category's IV contribution. One two-counter groupBy + a "
    "broadcast 1-row totals join; every input to the logs is a "
    "ratio of exact integer counts, so only the final ln/round "
    "touches floats. Fixture categories all carry both classes; "
    "production WOE adds Laplace smoothing for empty cells, which "
    "would change the oracle formula, not the shape.",
    tags=("feature", "encoding", "woe", "stats"),
)
def qdz9_woe_encoding(spark, sf_dir):
    o = tables(spark, sf_dir).orders
    c = o.groupBy(F.col("o_orderpriority").alias("cat")).agg(
        F.sum(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        ).alias("n_good"),
        F.sum(
            F.when(F.col("o_orderstatus") != "F", 1).otherwise(0)
        ).alias("n_bad"),
    )
    t = c.agg(
        F.sum("n_good").alias("tg"), F.sum("n_bad").alias("tb")
    )
    pg = F.col("n_good") / F.col("tg")
    pb = F.col("n_bad") / F.col("tb")
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            F.col("cat").alias("o_orderpriority"),
            (F.col("n_good") + F.col("n_bad"))
            .cast("bigint")
            .alias("n"),
            F.col("n_good").cast("bigint").alias("n_good"),
            F.round(F.log(pg / pb), 6).alias("woe"),
            F.round((pg - pb) * F.log(pg / pb), 6).alias("iv_term"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "qup6_time_travel",
    oracle="""
WITH h AS (
  SELECT user_id, value, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS valid_to
  FROM events WHERE event_type = 'signup'),
pits AS (SELECT unnest(['2024-01-08 00:00:00', '2024-01-15 00:00:00',
                         '2024-01-22 00:00:00']) AS as_of),
snap AS (
  SELECT a.as_of, h.user_id, h.value,
         (h.valid_to IS NULL) AS is_open
  FROM pits a JOIN h
    ON h.valid_from <= CAST(a.as_of AS TIMESTAMP)
   AND (h.valid_to IS NULL
        OR h.valid_to > CAST(a.as_of AS TIMESTAMP)))
SELECT as_of, CAST(count(*) AS BIGINT) AS n_keys,
       round(sum(value), 2) AS sum_value,
       CAST(sum(CASE WHEN is_open THEN 1 ELSE 0 END) AS BIGINT)
         AS n_open_versions
FROM snap GROUP BY as_of ORDER BY as_of
""",
    doc="qup6: TIME TRAVEL over the SCD2 dimension (qup4's history, "
    "operators/scd.py) - reconstruct the dimension AS OF three fixed "
    "timestamps: the row version valid at T is the one with "
    "valid_from <= T < valid_to (open versions unbounded). This is "
    "the point-in-time read every warehouse table format sells "
    "(snapshot isolation over history); here it is one range "
    "predicate against the windowed history - the as-of timestamps "
    "broadcast (3 literals), the history is scanned ONCE, and at "
    "100 TB the predicate prunes by valid_from partition exactly "
    "like any time-partitioned dimension. Each as-of row's key "
    "count equals the number of users signed up by T - a snapshot "
    "consistency check the oracle certifies per timestamp.",
    tags=("pipeline", "cdc", "scd", "time-travel"),
)
def qup6_time_travel(spark, sf_dir):
    from sora_spark.operators.scd import scd2_history

    ev = tables(spark, sf_dir).events.filter(
        F.col("event_type") == "signup"
    )
    h = scd2_history(ev, ["user_id"], "ts", "event_id", ["value"])
    asof = spark.createDataFrame(
        [("2024-01-08 00:00:00",), ("2024-01-15 00:00:00",),
         ("2024-01-22 00:00:00",)],
        "as_of string",
    ).select("as_of", F.col("as_of").cast("timestamp").alias("t"))
    snap = h.join(
        F.broadcast(asof),
        (F.col("valid_from") <= F.col("t"))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("t"))),
    )
    return (
        snap.groupBy("as_of")
        .agg(
            F.count("*").cast("bigint").alias("n_keys"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.sum(F.when(F.col("valid_to").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_open_versions"),
        )
        .orderBy("as_of")
    )


@query(
    "qev12_time_to_convert",
    oracle="""
WITH fv AS (SELECT user_id, min(ts) AS t_view FROM events
            WHERE event_type = 'view' GROUP BY 1),
fp AS (SELECT user_id, min(ts) AS t_buy FROM events
       WHERE event_type = 'purchase' GROUP BY 1),
d AS (SELECT fv.user_id,
             epoch_us(t_buy) - epoch_us(t_view) AS us
      FROM fv JOIN fp USING (user_id)
      WHERE t_buy >= t_view)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       round(quantile_cont(us, 0.25) / 3600e6, 4) AS p25_hours,
       round(quantile_cont(us, 0.5)  / 3600e6, 4) AS median_hours,
       round(quantile_cont(us, 0.9)  / 3600e6, 4) AS p90_hours,
       round(avg(us) / 3600e6, 4)                 AS mean_hours
FROM d
""",
    doc="qev12: time-to-convert distribution — per user, the lag from "
    "FIRST view to FIRST purchase (view-before-purchase only), "
    "summarized as p25/median/p90/mean hours — the conversion-"
    "latency read every growth team pairs with qev11's windowed "
    "funnel counts. Durations are exact integer MICROSECONDS on both "
    "engines (unix_micros / epoch_us) — second-granularity date_diff "
    "truncates the two endpoints independently and can disagree by "
    "1s on sub-second components, a dialect trap this row "
    "deliberately sidesteps; percentile interpolation then runs over "
    "identical integers. Scale shape: ONE conditional-min aggregation "
    "per user (map-side combinable, single corpus scan, single "
    "shuffle); the percentile runs over the CONVERTER-sized "
    "duration set.",
    tags=("events", "funnel", "percentile"),
)
def qev12_time_to_convert(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    # ONE corpus pass: both first-event timestamps come from a single
    # conditional-min aggregation per user (a per-type agg + self-join
    # would scan the corpus twice and shuffle it twice for the same
    # user-keyed result)
    firsts = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.col("ts"))
            ).alias("t_view"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("t_buy"),
        )
    )
    d = firsts.filter(
        F.col("t_view").isNotNull()
        & F.col("t_buy").isNotNull()
        & (F.col("t_buy") >= F.col("t_view"))
    ).select(
        (F.unix_micros("t_buy") - F.unix_micros("t_view")).alias("us")
    )
    h = 3600e6
    return d.agg(
        F.count("*").cast("bigint").alias("n_converted"),
        F.round(F.percentile("us", F.lit(0.25)) / h, 4).alias("p25_hours"),
        F.round(F.percentile("us", F.lit(0.5)) / h, 4).alias(
            "median_hours"
        ),
        F.round(F.percentile("us", F.lit(0.9)) / h, 4).alias("p90_hours"),
        F.round(F.avg("us") / h, 4).alias("mean_hours"),
    )


@query(
    "qup7_commit_log_table",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price, o_orderdate AS ts
  FROM orders WHERE o_orderkey % 7 = 0),
batch AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice + 1000, 2) AS price,
         o_orderdate + INTERVAL 1 DAY AS ts
  FROM orders WHERE o_orderkey % 5 = 0),
u AS (SELECT *, 0 AS src FROM snap
      UNION ALL SELECT *, 1 FROM batch),
r AS (SELECT *, row_number() OVER (PARTITION BY k
                                   ORDER BY ts DESC, src DESC) AS rn
      FROM u),
v2 AS (SELECT k, st, price, ts FROM r WHERE rn = 1),
versions AS (
  SELECT 1 AS version, * FROM snap
  UNION ALL SELECT 2, * FROM v2)
SELECT version, k, st, price,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM versions ORDER BY version, k
""",
    doc="qup7: the COMMIT-LOG table lifecycle (sources/commit_log.py — "
    "the snapshot-isolated upgrade of qup1's atomic-swap sink): "
    "create version 1 from the orders snapshot (key%7), pin a READER "
    "on it, MERGE the qup1 update batch (key%5: +1000 price, +1 day) "
    "as version 2 — data directories are immutable, the merge only "
    "DELISTS v1's directory in the log — then emit BOTH versions' "
    "full rows: version 1 via the reader pinned BEFORE the merge "
    "committed (snapshot isolation, not a re-read) and version 2 via "
    "a fresh read. The oracle recomputes both logical snapshots with "
    "the SQL MERGE equivalent, so the hash certifies isolation AND "
    "time travel, not just the merge. Batch ts is strictly newer so "
    "the tiebreak never decides — deterministic cross-engine. Log "
    "cost: one tiny JSON per commit; reads are ordinary parquet "
    "scans of the live directories (pushdown intact).",
    tags=("sink", "cdc", "upsert", "acid"),
)
def qup7_commit_log_table(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = os.path.join(fresh_dir("commit_log_orders"), "table")
    cl.create_table(spark, path, _kv(orders, 7))
    pinned_v1 = cl.read_table(spark, path)  # BEFORE the merge commits
    cl.merge_upsert(spark, path, _batch(orders, 5), ["k"], "ts")
    v2 = cl.read_table(spark, path)

    def shape(df, version):
        return df.select(
            F.lit(version).cast("int").alias("version"),
            "k",
            "st",
            "price",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )

    return (
        shape(pinned_v1, 1).unionByName(shape(v2, 2))
        .orderBy("version", "k")
    )


@query(
    "qup8_merge_pruned",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price, o_orderdate AS ts
  FROM orders WHERE o_orderkey % 6 = 0),
batch AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice + 500, 2) AS price,
         o_orderdate + INTERVAL 1 DAY AS ts
  FROM orders
  WHERE o_orderkey % 15 = 0
    AND 2 * o_orderkey >= (SELECT max(o_orderkey) FROM orders
                           WHERE o_orderkey % 6 = 0)),
merged AS (
  SELECT * FROM batch
  UNION ALL
  SELECT * FROM snap WHERE k NOT IN (SELECT k FROM batch))
SELECT k, st, price, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM merged ORDER BY k
""",
    doc="qup8: DATA-SKIPPED MERGE on the commit-log table "
    "(sources/commit_log.py merge_upsert prune=True — the fact-scale "
    "form): the snapshot is laid down as "
    "THREE key-disjoint directories (ntile(3) over the key, each "
    "commit recording min/max/null stats for k), then a key-narrow "
    "batch (upper half of the key range, a mix of updates and "
    "inserts) merges — directories whose recorded range is provably "
    "disjoint from the batch stay LISTED AND UNREAD, so the rewrite "
    "cost tracks the touched data, not the table. The oracle is "
    "MERGE INTO semantics (batch wins; untouched rows pass through), "
    "which pruning cannot change on a key-unique table; the pruning "
    "itself (removed = only overlapping dirs) is pinned on a fixed "
    "fixture in test_capabilities.py::test_commit_log_merge_data_"
    "skipping. Scale: stats live in the commit JSON (driver-side, "
    "commit-count bounded); the disjointness test is pure Python "
    "over per-dir ranges — the Delta/Iceberg file-skipping shape.",
    tags=("sink", "upsert", "acid", "prune"),
)
def qup8_merge_pruned(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    snap = _kv(orders, 6)
    path = _tiled_table(spark, "commit_log_pruned", snap)
    cl.merge_upsert(spark, path, _upper_batch(orders, snap), ["k"], "ts")
    return (
        cl.read_table(spark, path)
        .select(
            "k", "st", "price",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
        .orderBy("k")
    )


@query(
    "qup9_table_changes",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price, o_orderdate AS ts
  FROM orders WHERE o_orderkey % 7 = 0),
b AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice + 1000, 2) AS price,
         o_orderdate + INTERVAL 1 DAY AS ts
  FROM orders WHERE o_orderkey % 5 = 0),
diff AS (
  SELECT b.k, b.st, b.price, b.ts,
         CASE WHEN s.k IS NULL THEN 'insert' ELSE 'update' END AS change
  FROM b LEFT JOIN snap s USING (k)
  UNION ALL
  SELECT s.k, s.st, s.price, s.ts, 'delete' AS change
  FROM snap s
  WHERE s.k % 21 = 0 AND s.k NOT IN (SELECT k FROM b))
SELECT k, st, price, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, change
FROM diff ORDER BY k
""",
    doc="qup9: snapshot CDC (sources/commit_log.py table_changes): "
    "v1 = create (key%7), v2 = DELETE key%21, v3 = MERGE the key%5 "
    "batch (+1000 price, +1 day); table_changes(1, 3) emits one row "
    "per changed key — inserts carry the v3 image, deletes the v1 "
    "image, updates the post-image; keys deleted at v2 then "
    "re-inserted by the v3 merge (key%105) correctly surface as "
    "UPDATES because the diff compares snapshots, not replayed ops. "
    "No changelog is stored: the diff is ONE null-safe full-outer "
    "join on the key, so it works across any version pair and "
    "shuffles once on the key — the scan of each side is an ordinary "
    "pruned parquet read. Oracle replays the same lifecycle in set "
    "algebra.",
    tags=("cdc", "acid"),
)
def qup9_table_changes(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = os.path.join(fresh_dir("commit_log_cdc"), "table")
    cl.create_table(spark, path, _kv(orders, 7), stats_cols=["k"])  # v1
    cl.delete_where(spark, path, "k % 21 = 0")                      # v2
    cl.merge_upsert(spark, path, _batch(orders, 5), ["k"], "ts")    # v3
    return (
        cl.table_changes(spark, path, 1, 3, ["k"])
        .select(
            "k", "st", "price",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            F.col("_change_type").alias("change"),
        )
        .orderBy("k")
    )


@query(
    "qup10_delete_compact",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price
  FROM orders WHERE o_orderkey % 6 = 0),
stages AS (
  SELECT 'before' AS stage, k, st, price FROM snap
  UNION ALL
  SELECT 'after' AS stage, k, st, price FROM snap WHERE st <> 'F')
SELECT stage, k, st, price FROM stages ORDER BY stage, k
""",
    doc="qup10: DELETE + OPTIMIZE lifecycle on the commit-log table: "
    "the snapshot lands as three key-range directories, DELETE st='F' "
    "rewrites only the directories that contain matching rows (found "
    "by ONE _metadata.file_path pushdown pass whose driver result is "
    "bounded by the live-directory count), then OPTIMIZE bin-packs "
    "the survivors into a single directory WITHOUT changing the "
    "data. The 'before' half of the output is read via TIME TRAVEL "
    "to the pre-delete version AFTER the compaction committed — "
    "proving delete/optimize delist rather than destroy. NULL-safe "
    "delete semantics (condition NULL keeps the row) are pinned in "
    "test_capabilities.py::test_commit_log_delete_compact.",
    tags=("sink", "acid", "prune"),
)
def qup10_delete_compact(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = _tiled_table(
        spark, "commit_log_delopt", _kv(orders, 6, ts=False))
    pre_delete = cl.table_versions(path)[-1]
    cl.delete_where(spark, path, "st = 'F'")
    cl.compact(spark, path)

    def shape(df, stage):
        return df.select(
            F.lit(stage).alias("stage"), "k", "st", "price")

    before = cl.read_table(spark, path, pre_delete)  # time travel
    after = cl.read_table(spark, path)
    return (
        shape(before, "before").unionByName(shape(after, "after"))
        .orderBy("stage", "k")
    )


@query(
    "qup11_txn_exactly_once",
    oracle="""
SELECT o_orderkey AS k, o_orderstatus AS st,
       round(o_totalprice, 2) AS price
FROM orders WHERE o_orderkey % 3 = 0 ORDER BY k
""",
    doc="qup11: EXACTLY-ONCE streaming sink protocol "
    "(sources/commit_log.py txn_append / exactly_once_sink — the "
    "Delta txnAppId/txnVersion shape): three foreachBatch epochs "
    "land (key%9 residues 0, 3, 6), with epoch 1 REPLAYED carrying "
    "poisoned prices (+9999) — the replay is refused by the txn "
    "watermark without reading its data, so the poison can never "
    "appear; any failure of the skip is a value-hash mismatch "
    "against the oracle (the union of the three epochs = key%3). "
    "The skip-check races with the atomic version claim, so a "
    "duplicate writer loses the claim and its retry skips — pinned "
    "with a real writeStream.foreachBatch replay in "
    "test_capabilities.py::test_commit_log_exactly_once_sink.",
    tags=("sink", "streaming", "acid"),
)
def qup11_txn_exactly_once(spark, sf_dir):
    orders = tables(spark, sf_dir).orders

    def epoch(residue):
        return _kv(orders, 9, residue, ts=False)

    path = os.path.join(fresh_dir("commit_log_txn"), "table")
    sink = cl.exactly_once_sink(path, "qup11", stats_cols=["k"])
    sink(epoch(0), 0)
    sink(epoch(3), 1)
    poisoned = epoch(3).withColumn("price", F.col("price") + 9999)
    sink(poisoned, 1)  # replayed epoch: must be skipped
    sink(epoch(6), 2)
    return cl.read_table(spark, path).orderBy("k")


@query(
    "qup12_stream_table_to_table",
    oracle="""
SELECT o_orderkey AS k, o_orderstatus AS st,
       round(round(o_totalprice, 2) + 250, 2) AS adj_price,
       CASE WHEN o_orderkey % 8 = 0 THEN 'even' ELSE 'odd' END AS lane
FROM orders WHERE o_orderkey % 4 = 0 ORDER BY k
""",
    doc="qup12: the full exactly-once STREAMING LOOP over the "
    "commit-log format (sources/commit_log_stream.py source + "
    "commit_log.exactly_once_sink): a source table receives two "
    "append commits (key%8 residues 0 and 4), "
    "readStream.format('commitlog') turns its VERSIONS into offsets "
    "(immutable data dirs make offset replay byte-deterministic), a "
    "map-only transform reprices and lanes each row, and foreachBatch "
    "lands the result in a SECOND commit-log table through the "
    "txn-watermark sink — table -> stream -> transform -> "
    "exactly-once sink -> table, the Delta-shaped CDC pipeline, "
    "availableNow-triggered so each run drains and stops. The source "
    "runs with maxVersionsPerTrigger=1 (admission control — "
    "Delta's knob, so a backlog never becomes one giant micro-batch): "
    "two runs over one checkpoint drain the two-version backlog one "
    "batch each, and the output still hashes against plain SQL over "
    "orders because exactly-once composition means batch boundaries "
    "CANNOT affect the result. Failure modes are pinned in tests: "
    "checkpoint resume emits only unseen versions, caps count from "
    "the restored position (no duplicates, no giant batch), "
    "data-changing commits fail the source loudly unless "
    "skipChangeCommits, replayed epochs are refused by the sink "
    "watermark.",
    tags=("sink", "streaming", "acid", "cdc"),
)
def qup12_stream_table_to_table(spark, sf_dir):
    cls_.register(spark)
    orders = tables(spark, sf_dir).orders
    base = fresh_dir("commit_log_loop")
    src, dst, ck = (os.path.join(base, d) for d in ("src", "dst", "ck"))
    cl.create_table(
        spark, src, _kv(orders, 8, 0, ts=False), stats_cols=["k"])
    cl.append(spark, src, _kv(orders, 8, 4, ts=False), stats_cols=["k"])

    # maxVersionsPerTrigger=1 (admission control): each run's
    # batch admits ONE source version, so the two-version backlog
    # drains across two availableNow runs over the same checkpoint —
    # exactly-once composition (txn sink + capped source) means batch
    # boundaries CANNOT affect the hashed result, which is the point
    def run_once():
        stream = (
            spark.readStream.format("commitlog").option("path", src)
            .option("maxVersionsPerTrigger", "1").load()
        )
        transformed = stream.select(
            "k",
            "st",
            F.round(F.col("price") + 250, 2).alias("adj_price"),
            F.when(F.col("k") % 8 == 0, F.lit("even"))
            .otherwise(F.lit("odd"))
            .alias("lane"),
        )
        q = (
            transformed.writeStream.foreachBatch(
                cl.exactly_once_sink(dst, "qup12", stats_cols=["k"]))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    run_once()
    return cl.read_table(spark, dst).orderBy("k")


@query(
    "qup13_schema_evolution",
    oracle="""
SELECT o_orderkey AS k, o_orderstatus AS st,
       CAST(NULL AS DOUBLE) AS price
FROM orders WHERE o_orderkey % 9 = 0
UNION ALL
SELECT o_orderkey AS k, o_orderstatus AS st,
       round(o_totalprice, 2) AS price
FROM orders WHERE o_orderkey % 9 = 3
ORDER BY k
""",
    doc="qup13: SCHEMA EVOLUTION on the commit-log table "
    "(commit_log.append merge_schema=True — Delta's mergeSchema "
    "contract): the table is created with (k, st), a later append "
    "ADDS a price column, and the evolved schema is re-recorded in "
    "that commit — reads apply the schema AS OF the read version "
    "(explicit .schema() on the scan, so pre-evolution files come "
    "back with NULL price and NO footer-merge pass ever runs; time "
    "travel before the evolution keeps the old two-column shape). "
    "Dropping or retyping columns still refuses loudly, batches must "
    "carry the full current schema afterwards, and a commitlog STREAM "
    "refuses to ADVANCE past the evolution (every pre-evolution row "
    "still delivered; a fresh checkpoint at the evolution adopts the "
    "new shape, nothing lost between the two) — all pinned in "
    "test_capabilities. Scale: evolution is one JSON entry; no data "
    "rewrite, no footer scan.",
    tags=("sink", "acid", "schema"),
)
def qup13_schema_evolution(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    v1 = _kv(orders, 9, 0, ts=False).drop("price")
    v2 = _kv(orders, 9, 3, ts=False)
    path = os.path.join(fresh_dir("commit_log_evo"), "table")
    cl.create_table(spark, path, v1, stats_cols=["k"])
    cl.append(spark, path, v2, stats_cols=["k"], merge_schema=True)
    return cl.read_table(spark, path).orderBy("k")


@query(
    "qup14_clustered_optimize",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price, o_orderdate AS ts
  FROM orders WHERE o_orderkey % 6 = 0),
batch AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice + 500, 2) AS price,
         o_orderdate + INTERVAL 1 DAY AS ts
  FROM orders
  WHERE o_orderkey % 15 = 0
    AND 2 * o_orderkey >= (SELECT max(o_orderkey) FROM orders
                           WHERE o_orderkey % 6 = 0)),
merged AS (
  SELECT * FROM batch
  UNION ALL
  SELECT * FROM snap WHERE k NOT IN (SELECT k FROM batch))
SELECT k, st, price, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM merged ORDER BY k
""",
    doc="qup14: CLUSTERED OPTIMIZE (commit_log.compact cluster_by — "
    "the liquid-clustering shape) certified through the merge it "
    "enables: the snapshot lands as three INTERLEAVED directories "
    "(k%18 residue classes — every dir spans the whole key range, so "
    "qup8's data skipping has nothing to prune), clustered OPTIMIZE "
    "rewrites them as range-disjoint buckets via repartitionByRange "
    "(sampled boundaries affect layout only, never data; each bucket "
    "is its own commit relpath with tight min/max stats), and the "
    "same key-narrow batch as qup8 then merges — now pruning to the "
    "overlapping bucket(s). The oracle is layout-independent MERGE "
    "INTO semantics, so any clustering bug that loses or duplicates "
    "a row is a hash mismatch; the pruning/disjointness/vacuum "
    "mechanics are pinned on a fixed fixture in "
    "test_capabilities.py::test_commit_log_clustered_compact. At "
    "100 TB this is how an append-as-it-arrives table is retrofitted "
    "into a prunable layout without ever rewriting more than once.",
    tags=("sink", "acid", "prune", "layout"),
)
def qup14_clustered_optimize(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    snap = _kv(orders, 6)
    path = os.path.join(fresh_dir("commit_log_cluster"), "table")
    cl.create_table(
        spark, path, snap.filter(F.col("k") % 18 == 0), stats_cols=["k"])
    for res in (6, 12):
        cl.append(spark, path, snap.filter(F.col("k") % 18 == res),
                  stats_cols=["k"])
    cl.compact(spark, path, target_partitions=4, cluster_by=["k"])
    cl.merge_upsert(spark, path, _upper_batch(orders, snap), ["k"], "ts")
    return (
        cl.read_table(spark, path)
        .select(
            "k", "st", "price",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
        .orderBy("k")
    )


@query(
    "qup15_check_constraints",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, round(o_totalprice, 2) AS price,
         o_orderdate AS ts
  FROM orders WHERE o_orderkey % 9 = 0),
extra AS (
  SELECT o_orderkey AS k, round(o_totalprice, 2) AS price,
         o_orderdate AS ts
  FROM orders WHERE o_orderkey % 9 = 3)
SELECT k, price, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM (SELECT * FROM snap UNION ALL SELECT * FROM extra)
ORDER BY k
""",
    doc="qup15: CHECK constraints on the commit-log table "
    "(commit_log create_table(check=...) — the Delta "
    "constraint/expectations shape): the table declares price > 0 at "
    "create; EVERY writer validates its batch as an Observation "
    "riding the data write itself (zero extra passes over the batch "
    "— the scale-right enforcement) and refuses to publish "
    "violations. The declared row creates the table, attempts an "
    "append whose prices are NEGATED (must raise "
    "ConstraintViolationError and commit nothing — if enforcement "
    "ever silently passed, the negated rows would reach the final "
    "read and hash-mismatch the oracle), then lands a valid batch. "
    "NULL-passes semantics, violating CREATE leaving no table, and "
    "orphan reclamation by vacuum are pinned in "
    "test_capabilities.py::test_commit_log_check_constraint.",
    tags=("sink", "acid", "constraint"),
)
def qup15_check_constraints(spark, sf_dir):
    orders = tables(spark, sf_dir).orders

    def sel(residue):
        return _kv(orders, 9, residue).drop("st")

    path = os.path.join(fresh_dir("commit_log_check"), "table")
    cl.create_table(spark, path, sel(0), stats_cols=["k"],
                    check="price > 0")
    try:
        negated = sel(6).withColumn("price", -F.col("price"))
        cl.append(spark, path, negated, stats_cols=["k"])
        raise AssertionError("CHECK constraint did not fire")
    except cl.ConstraintViolationError:
        pass
    cl.append(spark, path, sel(3), stats_cols=["k"])
    return (
        cl.read_table(spark, path)
        .select(
            "k", "price",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
        .orderBy("k")
    )


@query(
    "qts11_seasonal_naive_backtest",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)),
lagged AS (
  SELECT event_type, d, n,
         lag(n, 7) OVER w AS f_seasonal,
         lag(n, 1) OVER w AS f_naive
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
scored AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days_scored,
         round(avg(abs(n - f_naive)), 5) AS mae_naive,
         round(avg(abs(n - f_seasonal)), 5) AS mae_seasonal
  FROM lagged
  WHERE f_seasonal IS NOT NULL AND f_naive IS NOT NULL
  GROUP BY event_type)
SELECT event_type, n_days_scored, mae_naive, mae_seasonal,
       round(mae_seasonal / mae_naive, 5) AS mase
FROM scored ORDER BY event_type
""",
    doc="qts11: seasonal-naive FORECAST BACKTEST per event type — "
    "forecast(d) = count(d-7) (weekly seasonal naive) scored against "
    "the actual daily counts on every day where both it and the "
    "1-day naive baseline exist, reporting MAE of each and MASE "
    "(the scale-free forecast-accuracy standard: seasonal MAE over "
    "naive MAE; < 1 means the seasonal structure helps). Completes "
    "the qts7 decomposition with the FORECASTING side of the "
    "time-series family. Determinism: counts are integers, the MAEs "
    "are exact integer-sum/count divisions, and MASE is a ratio of "
    "the PRE-ROUNDED MAEs (the pre-rounded-components idiom), so no "
    "float drift crosses engines. Shapes: one daily aggregation "
    "(shuffle on (type, day)), two lags over a per-type window, one "
    "per-type reduce — wordcount economics; the events-table "
    "TIMESTAMP(NANOS) path rides the catalog's runtime conf.",
    tags=("timeseries", "forecast", "eval"),
)
def qts11_seasonal_naive_backtest(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type", "d", "n",
        F.lag("n", 7).over(w).alias("f_seasonal"),
        F.lag("n", 1).over(w).alias("f_naive"),
    ).filter(
        F.col("f_seasonal").isNotNull() & F.col("f_naive").isNotNull()
    )
    scored = lagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days_scored"),
        F.round(F.avg(F.abs(F.col("n") - F.col("f_naive"))), 5)
        .alias("mae_naive"),
        F.round(F.avg(F.abs(F.col("n") - F.col("f_seasonal"))), 5)
        .alias("mae_seasonal"),
    )
    return scored.select(
        "event_type", "n_days_scored", "mae_naive", "mae_seasonal",
        F.round(F.col("mae_seasonal") / F.col("mae_naive"), 5)
        .alias("mase"),
    ).orderBy("event_type")


@query(
    "qdz10_benford_audit",
    oracle="""
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
              1, 1) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 1),
c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_d FROM d GROUP BY digit),
t AS (SELECT CAST(sum(n_d) AS BIGINT) AS n FROM c)
SELECT c.digit, c.n_d,
       round(c.n_d * 1.0 / t.n, 6) AS obs_frac,
       round(log10(1.0 + 1.0 / c.digit), 6) AS benford_frac,
       round(pow(c.n_d - t.n * round(log10(1.0 + 1.0 / c.digit), 6), 2)
             / (t.n * round(log10(1.0 + 1.0 / c.digit), 6)), 6)
         AS chi2_contrib
FROM c, t ORDER BY c.digit
""",
    doc="qdz10: BENFORD'S-LAW first-digit audit of order totals — the "
    "classic fraud/synthetic-data screen: observed leading-digit "
    "frequencies vs the Benford expectation log10(1+1/d), with the "
    "per-digit chi-square contribution (the global statistic is the "
    "9-row sum; emitting contributions keeps every output a "
    "deterministic function of one digit's integers — no "
    "order-sensitive 9-term float sum crosses engines, the "
    "pre-rounded-components discipline). Digit extraction goes "
    "through floor -> BIGINT -> string so both engines see the same "
    "integer text (never scientific notation). Shapes: map-side "
    "digit projection, a 9-row groupBy, one scalar total — "
    "wordcount economics; at 100 TB this is a metadata-cheap "
    "screen over any numeric column.",
    tags=("quality", "audit", "agg"),
)
def qdz10_benford_audit(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    c = (
        orders.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n_d"))
    )
    t = c.agg(F.sum("n_d").cast("bigint").alias("n"))
    e = F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6)
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n_d",
            F.round(F.col("n_d") * 1.0 / F.col("n"), 6).alias("obs_frac"),
            e.alias("benford_frac"),
            F.round(
                F.pow(F.col("n_d") - F.col("n") * e, 2)
                / (F.col("n") * e),
                6,
            ).alias("chi2_contrib"),
        )
        .orderBy("digit")
    )


@query(
    "qup16_deletion_vectors",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price
  FROM orders WHERE o_orderkey % 6 = 0),
alive AS (SELECT k, st, price FROM snap
          WHERE st <> 'F' AND k % 4 <> 0),
stages AS (
  SELECT 'a_before' AS stage, k, st, price FROM snap
  UNION ALL SELECT 'b_dv', k, st, price FROM alive
  UNION ALL SELECT 'c_compacted', k, st, price FROM alive)
SELECT stage, k, st, price FROM stages ORDER BY stage, k
""",
    doc="qup16: DELETION VECTORS on the commit-log table "
    "(commit_log.delete_where deletion_vectors=True — the Delta DV "
    "shape): the snapshot lands as three "
    "key-range directories, then TWO stacked selective DELETEs "
    "(st='F', then k%4=0) each touch ZERO data directories — the "
    "matched (file, row_index) positions land in a tiny dv/ sidecar "
    "and the commit lists only it (added=[], removed=[], pinned in "
    "test_capabilities.py::test_commit_log_deletion_vectors). The "
    "output emits the SAME surviving set three ways: 'a_before' via "
    "time travel to the pre-delete version (proving DVs delist "
    "nothing), 'b_dv' read THROUGH the live vectors (position "
    "anti-join, broadcast under the recorded-row-count threshold), "
    "and 'c_compacted' after OPTIMIZE physically applied and "
    "delisted them — so DV-served reads, the rewrite semantics of "
    "qup10's oracle, and post-compact reads all hash-match one SQL "
    "truth. At 100 TB this turns a one-row DELETE from a directory "
    "rewrite into a position scan plus a sidecar write; the "
    "sidecar-vs-rewrite cost is measured in scripts/table_probe.py.",
    tags=("sink", "acid", "prune", "dv"),
)
def qup16_deletion_vectors(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = _tiled_table(spark, "commit_log_dv", _kv(orders, 6, ts=False))
    pre_delete = cl.table_versions(path)[-1]
    cl.delete_where(spark, path, "st = 'F'", deletion_vectors=True)
    cl.delete_where(spark, path, "k % 4 = 0", deletion_vectors=True)
    served_dv = cl.read_table(spark, path)   # pinned BEFORE the compact
    cl.compact(spark, path)
    compacted = cl.read_table(spark, path)
    before = cl.read_table(spark, path, pre_delete)  # time travel

    def shape(df, stage):
        return df.select(F.lit(stage).alias("stage"), "k", "st", "price")

    return (
        shape(before, "a_before")
        .unionByName(shape(served_dv, "b_dv"))
        .unionByName(shape(compacted, "c_compacted"))
        .orderBy("stage", "k")
    )


@query(
    "qup17_merge_schema_evolution",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price, o_orderdate AS ts
  FROM orders WHERE o_orderkey % 6 = 0),
batch AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice + 500, 2) AS price,
         o_orderdate + INTERVAL 1 DAY AS ts, 'batch' AS src
  FROM orders
  WHERE o_orderkey % 15 = 0
    AND 2 * o_orderkey >= (SELECT max(o_orderkey) FROM orders
                           WHERE o_orderkey % 6 = 0)),
merged AS (
  SELECT k, st, price, ts, src FROM batch
  UNION ALL
  SELECT k, st, price, ts, CAST(NULL AS VARCHAR) AS src
  FROM snap WHERE k NOT IN (SELECT k FROM batch))
SELECT k, st, price, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, src
FROM merged ORDER BY k
""",
    doc="qup17: MERGE composed with SCHEMA EVOLUTION "
    "(commit_log.merge_upsert merge_schema=True — Delta's autoMerge): "
    "the table lands as three key-range "
    "directories with stats, then a key-narrow batch carrying a NEW "
    "src column evolves-and-merges in ONE commit. The output "
    "certifies all three row provenances at once: batch rows carry "
    "'batch', rewritten-but-unmatched rows carry NULL src from the "
    "post-evolution file, and rows in directories the merge PRUNED "
    "(disjoint key ranges — still listed, never read) come back "
    "NULL-filled through the evolved read schema from their "
    "pre-evolution files, with no footer-merge pass. Without "
    "merge_schema the same batch refuses loudly, and time travel to "
    "the pre-merge version keeps the four-column shape — both pinned "
    "in test_capabilities.py::test_commit_log_merge_schema_evolution. "
    "Scale: the evolution is one JSON entry riding the merge commit; "
    "cost stays proportional to the touched directories.",
    tags=("sink", "acid", "upsert", "schema"),
)
def qup17_merge_schema_evolution(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    snap = _kv(orders, 6)
    path = _tiled_table(spark, "commit_log_automerge", snap)
    batch = _upper_batch(orders, snap).withColumn("src", F.lit("batch"))
    cl.merge_upsert(spark, path, batch, ["k"], "ts", merge_schema=True)
    return (
        cl.read_table(spark, path)
        .select(
            "k", "st", "price",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "src",
        )
        .orderBy("k")
    )


@query(
    "qup18_update_where",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price
  FROM orders WHERE o_orderkey % 6 = 0)
SELECT k,
       CASE WHEN st = 'F' THEN 'U' ELSE st END AS st,
       CASE WHEN st = 'F' THEN round(price + 100, 2) ELSE price END
         AS price
FROM snap ORDER BY k
""",
    doc="qup18: UPDATE ... SET ... WHERE as a commit "
    "(commit_log.update_where — completing the table format's DML "
    "triad: MERGE qup7/qup8, DELETE qup10/qup16, UPDATE here): the "
    "snapshot lands as three key-range directories, then UPDATE SET "
    "st='U', price=round(price+100,2) WHERE st='F' rewrites ONLY the "
    "directories that contain matching rows (the DELETE-shaped "
    "position scan; untouched directories stay listed unread — "
    "pruning pinned in test_capabilities.py::"
    "test_commit_log_update_where), with matched rows transformed "
    "and unmatched rows passing through verbatim. Assignments are "
    "CAST back to each column's current type so an UPDATE can never "
    "silently drift the table schema; NULL conditions leave rows "
    "unchanged (SQL semantics); live deletion vectors are "
    "reconciled on the read so dead rows can neither match nor "
    "revive. Old versions stay time-travelable.",
    tags=("sink", "acid", "update"),
)
def qup18_update_where(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = _tiled_table(
        spark, "commit_log_update", _kv(orders, 6, ts=False))
    cl.update_where(
        spark, path, "st = 'F'",
        {"st": "'U'", "price": "round(price + 100, 2)"},
    )
    return cl.read_table(spark, path).orderBy("k")


@query(
    "qup19_restore_table",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price, o_orderdate AS ts
  FROM orders WHERE o_orderkey % 7 = 0),
b AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice + 1000, 2) AS price,
         o_orderdate + INTERVAL 1 DAY AS ts
  FROM orders WHERE o_orderkey % 5 = 0),
v3 AS (
  SELECT * FROM (
    SELECT * FROM b
    UNION ALL
    SELECT * FROM snap WHERE k NOT IN (SELECT k FROM b))
  WHERE k % 3 <> 0),
stages AS (
  SELECT 'a_mutated' AS stage, k, st, price FROM v3
  UNION ALL SELECT 'b_restored', k, st, price FROM snap)
SELECT stage, k, st, price FROM stages ORDER BY stage, k
""",
    doc="qup19: RESTORE TABLE ... TO VERSION (commit_log."
    "restore_table — Delta's rollback): after a merge (v2) and a "
    "DELETE (v3) mutate the table, RESTORE publishes a NEW commit "
    "whose live file set equals version 1's — pure log manipulation, "
    "no data read or written, history intact (the rollback itself is "
    "time-travelable and shows in DESCRIBE HISTORY). The output "
    "emits the mutated v3 state alongside the post-restore read, and "
    "the restored half must hash-match the ORIGINAL snapshot SQL — "
    "any file-set reconstruction error (a lost directory, a "
    "resurrected delete) is a mismatch. Refusal when vacuum already "
    "reclaimed a needed directory is pinned in "
    "test_capabilities.py::test_commit_log_restore. At 100 TB a "
    "fat-finger DELETE is undone in one driver-side commit.",
    tags=("acid", "restore", "cdc"),
)
def qup19_restore_table(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = os.path.join(fresh_dir("commit_log_restore"), "table")
    cl.create_table(spark, path, _kv(orders, 7), stats_cols=["k"])  # v1
    cl.merge_upsert(spark, path, _batch(orders, 5), ["k"], "ts")    # v2
    cl.delete_where(spark, path, "k % 3 = 0")                       # v3
    mutated = cl.read_table(spark, path)
    cl.restore_table(spark, path, 1)                                # v4
    restored = cl.read_table(spark, path)

    def shape(df, stage):
        return df.select(F.lit(stage).alias("stage"), "k", "st", "price")

    return (
        shape(mutated, "a_mutated")
        .unionByName(shape(restored, "b_restored"))
        .orderBy("stage", "k")
    )


@query(
    "qup20_shallow_clone",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price, o_orderdate AS ts
  FROM orders WHERE o_orderkey % 7 = 0),
pruned AS (SELECT * FROM snap WHERE st <> 'F'),
b AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice + 1000, 2) AS price,
         o_orderdate + INTERVAL 1 DAY AS ts
  FROM orders WHERE o_orderkey % 5 = 0),
merged AS (
  SELECT * FROM b
  UNION ALL
  SELECT * FROM pruned WHERE k NOT IN (SELECT k FROM b)),
stages AS (
  SELECT 'a_clone' AS stage, k, st, price FROM pruned
  UNION ALL SELECT 'b_source', k, st, price FROM merged)
SELECT stage, k, st, price FROM stages ORDER BY stage, k
""",
    doc="qup20: SHALLOW CLONE (commit_log.clone_table — Delta's "
    "zero-copy clone, hard-link flavored for the POSIX tier; an "
    "object store would reference manifests): the source table "
    "carries a live DELETION VECTOR (st='F' DV-deleted) when it is "
    "cloned, so the clone must inherit data directories, stats, "
    "schema AND the live vectors by linking — no data bytes copied, "
    "cost is one link per file (measured metadata-only in "
    "scripts/table_probe.py). The source then mutates (a merge "
    "rewrites its directories) AND VACUUMS the delisted files — the "
    "clone still reads the pre-mutation snapshot through its "
    "refcounted links (true independence, not delayed deletion), "
    "while the source serves the merged state: both emitted and "
    "hashed against their SQL truths in one output.",
    tags=("acid", "clone", "dv"),
)
def qup20_shallow_clone(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    base = fresh_dir("commit_log_clone")
    src, dst = (os.path.join(base, d) for d in ("src", "dst"))
    cl.create_table(spark, src, _kv(orders, 7), stats_cols=["k"])
    cl.delete_where(spark, src, "st = 'F'", deletion_vectors=True)
    cl.clone_table(spark, src, dst)
    # mutate SOURCE only
    cl.merge_upsert(spark, src, _batch(orders, 5), ["k"], "ts")
    # the strongest isolation proof: the source VACUUMS its delisted
    # files — the clone still reads them through its hard links
    # (refcounted inodes), so 'a_clone' below certifies true
    # independence, not just delayed deletion
    cl.vacuum(src)

    def shape(df, stage):
        return df.select(F.lit(stage).alias("stage"), "k", "st", "price")

    return (
        shape(cl.read_table(spark, dst), "a_clone")
        .unionByName(shape(cl.read_table(spark, src), "b_source"))
        .orderBy("stage", "k")
    )


@query(
    "qup21_log_checkpoint",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price, o_orderdate AS ts
  FROM orders WHERE o_orderkey % 6 = 0),
alive AS (SELECT * FROM snap WHERE st <> 'F'),
b AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice + 1000, 2) AS price,
         o_orderdate + INTERVAL 1 DAY AS ts
  FROM orders WHERE o_orderkey % 15 = 0),
merged AS (
  SELECT * FROM b
  UNION ALL
  SELECT * FROM alive WHERE k NOT IN (SELECT k FROM b))
SELECT k, st, price, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM merged ORDER BY k
""",
    doc="qup21: LOG CHECKPOINTS (commit_log.checkpoint_log — Delta's "
    "_last_checkpoint shape, the feature that keeps a table with "
    "years of commits driver-cheap): after a create + two appends + "
    "a DV delete, the folded state (live dirs + stats, live vectors "
    "+ row count, schema, CHECK, txn watermarks) lands in one "
    "checkpoint file, and EVERY subsequent snapshot resolve reads "
    "checkpoint + tail — O(tail) instead of O(history) per "
    "operation, verified structurally in test_capabilities.py::"
    "test_commit_log_checkpoint (state list length 1 right after "
    "checkpointing; torn checkpoints fall back to the full fold; "
    "historical paths still read raw commits). This declared row "
    "certifies VALUE fidelity: the post-checkpoint MERGE and read "
    "both resolve through the synthetic checkpoint commit, and the "
    "result must hash-match MERGE-over-(snapshot-minus-DV-deleted) "
    "SQL — any state lost or invented by the fold (a dropped live "
    "dir, a forgotten deletion vector, stale stats pruning the "
    "wrong directory) is a mismatch.",
    tags=("acid", "checkpoint", "prune"),
)
def qup21_log_checkpoint(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = _tiled_table(spark, "commit_log_ckpt", _kv(orders, 6))
    cl.delete_where(spark, path, "st = 'F'", deletion_vectors=True)
    cl.checkpoint_log(path)
    # through the checkpoint
    cl.merge_upsert(spark, path, _batch(orders, 15), ["k"], "ts")
    return (
        cl.read_table(spark, path)
        .select(
            "k", "st", "price",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
        .orderBy("k")
    )


@query(
    "qup22_zorder_optimize",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k,
         CAST(strftime(o_orderdate, '%j') AS BIGINT) AS doy,
         o_orderstatus AS st, round(o_totalprice, 2) AS price
  FROM orders WHERE o_orderkey % 4 = 0)
SELECT k, doy, st, price FROM snap
WHERE NOT (doy >= 100 AND doy < 140)
ORDER BY k, doy
""",
    doc="qup22: Z-ORDERED OPTIMIZE (commit_log.compact zorder=True — "
    "Delta's ZORDER BY, built on operators/layout.py's Morton "
    "interleave): the orders snapshot carries two independent "
    "dimensions (order key, day-of-year) and is compacted into 8 "
    "range-disjoint buckets over the Z-value of the pair — every "
    "bucket a tight BOX in both dimensions, each committed with its "
    "own min/max stats on both columns — then a narrow "
    "SECOND-dimension DELETE (doy in [100,140)) runs and the "
    "surviving table is emitted. The oracle is layout-independent "
    "DELETE semantics, so any normalization/interleave bug that "
    "loses, duplicates, or mis-deletes a row is a hash mismatch; the "
    "structural contrast (second-dimension delete touches most "
    "lexicographic buckets but few Z buckets; first-dimension "
    "pruning preserved) is pinned in test_capabilities.py::"
    "test_commit_log_zorder_compact. At 100 TB this is how a table "
    "queried by BOTH time and key gets file skipping on each without "
    "duplicating the data.",
    tags=("acid", "layout", "prune"),
)
def qup22_zorder_optimize(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    snap = orders.filter(F.col("o_orderkey") % 4 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.dayofyear("o_orderdate").cast("bigint").alias("doy"),
        F.col("o_orderstatus").alias("st"),
        F.round("o_totalprice", 2).alias("price"),
    )
    path = os.path.join(fresh_dir("commit_log_zorder"), "table")
    cl.create_table(spark, path, snap, stats_cols=["k", "doy"])
    cl.compact(spark, path, target_partitions=8,
               cluster_by=["k", "doy"], zorder=True)
    cl.delete_where(spark, path, "doy >= 100 AND doy < 140")
    return cl.read_table(spark, path).orderBy("k", "doy")


@query(
    "qts12_linear_interpolation",
    oracle="""
WITH daily AS (
  SELECT event_type AS t, CAST(ts AS DATE) AS day,
         round(sum(value), 2) AS v
  FROM events GROUP BY 1, 2),
sparse AS (
  SELECT * FROM daily
  WHERE CAST(strftime(day, '%j') AS BIGINT) % 3 <> 0),
bounds AS (SELECT t, min(day) AS d0, max(day) AS d1 FROM sparse
           GROUP BY t),
grid AS (
  SELECT t, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
               AS DATE) AS day
  FROM bounds),
g AS (
  SELECT grid.t, grid.day, sparse.v,
         CASE WHEN sparse.v IS NOT NULL THEN grid.day END AS vd
  FROM grid LEFT JOIN sparse
    ON grid.t = sparse.t AND grid.day = sparse.day),
w AS (
  SELECT t, day, v,
         last_value(v IGNORE NULLS) OVER
           (PARTITION BY t ORDER BY day
            ROWS UNBOUNDED PRECEDING) AS pv,
         last_value(vd IGNORE NULLS) OVER
           (PARTITION BY t ORDER BY day
            ROWS UNBOUNDED PRECEDING) AS pd,
         first_value(v IGNORE NULLS) OVER
           (PARTITION BY t ORDER BY day
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(vd IGNORE NULLS) OVER
           (PARTITION BY t ORDER BY day
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM g)
SELECT t, strftime(day, '%Y-%m-%d') AS day_s,
       round(CASE WHEN v IS NOT NULL THEN v
                  ELSE pv + (nv - pv)
                       * (CAST(day - pd AS DOUBLE)
                          / CAST(nd - pd AS DOUBLE)) END, 6) AS vi,
       (v IS NULL) AS filled
FROM w ORDER BY t, day_s
""",
    doc="qts12: LINEAR INTERPOLATION gap fill — the imputation "
    "classic qw12's ffill/bfill family was missing: the daily value "
    "series per event type is made sparse (every day-of-year "
    "divisible by 3 withheld — deterministic, engine-shared), the "
    "dense calendar is regenerated per type (sequence between "
    "observed bounds, so no unbounded edges exist by construction), "
    "and each missing day blends its bracketing observations as "
    "pv + (nv-pv) * (day-pd)/(nd-pd) — the EXPRESSION SHAPE is kept "
    "literally identical in both engines (same op order => same IEEE "
    "doubles, incl. non-representable ratios like 1/3), rounded 6dp "
    "only at the end; known days pass through their pre-rounded "
    "value. Shapes: one daily agg, a per-type calendar explode "
    "(calendar-sized), two IGNORE-NULLS window passes under one "
    "partition order — no self-joins, no Python. At 100 TB the "
    "window state is per-series; the calendar never exceeds "
    "days x types.",
    tags=("timeseries", "imputation", "window"),
)
def qts12_linear_interpolation(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    daily = (
        ev.groupBy(
            F.col("event_type").alias("t"),
            F.to_date("ts").alias("day"),
        )
        .agg(F.round(F.sum("value"), 2).alias("v"))
    )
    sparse = daily.filter(F.dayofyear("day") % 3 != 0)
    bounds = sparse.groupBy("t").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = bounds.select(
        "t",
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    g = grid.join(sparse, ["t", "day"], "left").withColumn(
        "vd", F.when(F.col("v").isNotNull(), F.col("day"))
    )
    wp = (
        Window.partitionBy("t").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("t").orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w = (
        g.withColumn("pv", F.last("v", ignorenulls=True).over(wp))
        .withColumn("pd", F.last("vd", ignorenulls=True).over(wp))
        .withColumn("nv", F.first("v", ignorenulls=True).over(wn))
        .withColumn("nd", F.first("vd", ignorenulls=True).over(wn))
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        F.datediff("day", "pd").cast("double")
        / F.datediff("nd", "pd").cast("double")
    )
    return (
        w.select(
            "t",
            F.date_format("day", "yyyy-MM-dd").alias("day_s"),
            F.round(
                F.when(F.col("v").isNotNull(), F.col("v"))
                .otherwise(interp), 6,
            ).alias("vi"),
            F.col("v").isNull().alias("filled"),
        )
        .orderBy("t", "day_s")
    )


@query(
    "qup23_change_data_feed",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price, o_orderdate AS ts
  FROM orders WHERE o_orderkey % 7 = 0),
app AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price, o_orderdate AS ts
  FROM orders WHERE o_orderkey % 7 = 1),
base AS (SELECT * FROM snap UNION ALL SELECT * FROM app),
batch AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice + 1000, 2) AS price,
         o_orderdate + INTERVAL 1 DAY AS ts
  FROM orders WHERE o_orderkey % 5 = 0),
v3_table AS (
  SELECT * FROM batch
  UNION ALL
  SELECT * FROM base WHERE k NOT IN (SELECT k FROM batch)),
v4_deleted AS (SELECT * FROM v3_table WHERE k % 3 = 0),
v4_table AS (SELECT * FROM v3_table WHERE k % 3 <> 0),
v5_pre AS (SELECT * FROM v4_table WHERE st = 'O'),
feed AS (
  SELECT 1 AS v, 'insert' AS change, * FROM snap
  UNION ALL SELECT 2, 'insert', * FROM app
  UNION ALL SELECT 3, 'insert', b.* FROM batch b
            WHERE b.k NOT IN (SELECT k FROM base)
  UNION ALL SELECT 3, 'update_preimage', base.* FROM base
            WHERE base.k IN (SELECT k FROM batch)
  UNION ALL SELECT 3, 'update_postimage', b.* FROM batch b
            WHERE b.k IN (SELECT k FROM base)
  UNION ALL SELECT 4, 'delete', * FROM v4_deleted
  UNION ALL SELECT 5, 'update_preimage', * FROM v5_pre
  UNION ALL SELECT 5, 'update_postimage', k, st,
            round(price + 50, 2), ts FROM v5_pre)
SELECT v, change, k, st, price,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM feed ORDER BY v, k, change
""",
    doc="qup23: CHANGE DATA FEED (Delta's CDF architecture, faithfully: "
    "data-changing WRITERS materialize their row-level changes into "
    "cdc/ sidecars at commit time — the diff reuses frames the writer "
    "already holds — and the commitlog stream source serves them "
    "under option readChangeFeed, appends flagged 'insert' from their "
    "data files, layout-only optimize commits skipped, every row "
    "stamped _commit_version): a five-commit lifecycle — create, "
    "append, MERGE (inserts + update pre/post PAIRS in one commit), "
    "DV DELETE (delete images), UPDATE (pre/post pairs) — streams "
    "its complete feed through one availableNow run into a parquet "
    "sink, and the feed must hash-match the SQL replay of all five "
    "stages: any wrong diff, misattributed version, duplicated or "
    "lost change row is a mismatch. Updates emit the Delta-complete "
    "'update_preimage'+'update_postimage' pair — without the "
    "pre-image a downstream incremental consumer cannot RETRACT the "
    "old contribution (qmv2 exercises exactly that). Batch prices "
    "are +1000 so merge updates can never be silent no-ops; the "
    "batch ts is strictly newer so the tiebreak never decides. This "
    "is what downstream CDC consumers (qup9 is the batch twin) "
    "subscribe to at 100 TB instead of re-diffing snapshots: change "
    "volume, not table volume, crosses the wire.",
    tags=("cdc", "streaming", "acid", "sink"),
)
def qup23_change_data_feed(spark, sf_dir):
    cls_.register(spark)
    orders = tables(spark, sf_dir).orders
    base = fresh_dir("commit_log_cdf")
    path, out, ck = (os.path.join(base, d) for d in ("table", "feed", "ck"))
    cl.create_table(spark, path, _kv(orders, 7),                # v1
                    change_data_feed=True)
    cl.append(spark, path, _kv(orders, 7, 1))                   # v2
    cl.merge_upsert(spark, path, _batch(orders, 5), ["k"], "ts")  # v3
    cl.delete_where(spark, path, "k % 3 = 0",                   # v4
                    deletion_vectors=True)
    cl.update_where(spark, path, "st = 'O'",                    # v5
                    {"price": "round(price + 50, 2)"})

    q = (
        spark.readStream.format("commitlog").option("path", path)
        .option("readChangeFeed", "true").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    return (
        spark.read.parquet(out)
        .select(
            F.col("_commit_version").alias("v"),
            F.col("_change_type").alias("change"),
            "k", "st", "price",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
        .orderBy("v", "k", "change")
    )


@query(
    "qup24_column_mapping",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price
  FROM orders WHERE o_orderkey % 6 = 0),
updated AS (
  SELECT k, CASE WHEN k % 5 = 0 THEN lower(st) ELSE st END AS status
  FROM snap),
stages AS (
  SELECT 'a_before' AS stage, k, st AS status FROM snap
  UNION ALL SELECT 'b_renamed', k, status FROM updated
  UNION ALL SELECT 'c_dropped', k, status FROM updated)
SELECT stage, k, status FROM stages ORDER BY stage, k
""",
    doc="qup24: COLUMN MAPPING on the commit-log table "
    "(commit_log.rename_column / drop_column — Delta's column-mapping "
    "shape): RENAME COLUMN and DROP COLUMN are METADATA-ONLY "
    "commits (added=[], removed=[], pinned in test_capabilities.py::"
    "test_commit_log_column_mapping) — data files keep their PHYSICAL "
    "names forever, reads stay one scan with a final physical->"
    "logical projection, and at 100 TB a rename costs one tiny JSON "
    "instead of a table rewrite. The lifecycle here proves the parts "
    "that silently go wrong in naive ports: 'a_before' time-travels "
    "to the pre-rename version (old logical name, aliased for the "
    "shared output shape), 'b_renamed' reads AFTER an UPDATE wrote "
    "new data THROUGH the mapping (the rewrite translated the batch "
    "back to physical names — mixing physical schemas would "
    "union-fail), and 'c_dropped' reads after price left the schema "
    "metadata-only (its bytes remain in live files, invisible; the "
    "physical name is RESERVED so schema evolution cannot bind new "
    "columns to stale bytes until a compact clears it). All three "
    "stages hash against one SQL truth; stats pruning, CHECK "
    "constraints (bound to create-time physical names), restore, "
    "clone, checkpoint, and the streaming source compose with the "
    "map in the capability tests.",
    tags=("sink", "acid", "ddl", "mapping"),
)
def qup24_column_mapping(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = _tiled_table(
        spark, "commit_log_colmap", _kv(orders, 6, ts=False))
    pre_rename = cl.table_versions(path)[-1]
    cl.rename_column(spark, path, "st", "status")
    v_updated = cl.update_where(
        spark, path, "k % 5 = 0", {"status": "lower(status)"})
    cl.drop_column(spark, path, "price")
    final = cl.read_table(spark, path)            # exactly (k, status)
    renamed = cl.read_table(spark, path, v_updated)  # still has price
    before = cl.read_table(spark, path, pre_rename)  # old logical name

    return (
        before.select(
            F.lit("a_before").alias("stage"), "k",
            F.col("st").alias("status"))
        .unionByName(renamed.select(
            F.lit("b_renamed").alias("stage"), "k", "status"))
        .unionByName(final.select(
            F.lit("c_dropped").alias("stage"), "k", "status"))
        .orderBy("stage", "k")
    )


@query(
    "qts13_ewma_smoothing",
    oracle="""
WITH daily AS (
  SELECT event_type AS t, CAST(ts AS DATE) AS day,
         round(sum(value), 2) AS v
  FROM events GROUP BY 1, 2),
lagged AS (
  SELECT t, day, v,
         lag(v, 1) OVER w AS v1, lag(v, 2) OVER w AS v2,
         lag(v, 3) OVER w AS v3, lag(v, 4) OVER w AS v4,
         lag(v, 5) OVER w AS v5, lag(v, 6) OVER w AS v6,
         lag(v, 7) OVER w AS v7,
         row_number() OVER w AS rn
  FROM daily WINDOW w AS (PARTITION BY t ORDER BY day))
SELECT t, strftime(day, '%Y-%m-%d') AS day_s,
       round((v * 1.0
              + v1 * 0.7
              + v2 * 0.48999999999999994
              + v3 * 0.3429999999999999
              + v4 * 0.24009999999999995
              + v5 * 0.16806999999999994
              + v6 * 0.11764899999999996
              + v7 * 0.08235429999999996)
             / 3.1411732999999997, 6) AS ewma
FROM lagged WHERE rn >= 8 ORDER BY t, day_s
""",
    doc="qts13: EWMA smoothing (8-tap truncated, decay 0.7) over the "
    "daily per-type value series — the denoising classic next to "
    "qts12's gap fill. The truncation is the point, not a shortcut: "
    "an exact recursive EWMA needs unbounded state and a "
    "sequentially-dependent fold (order-sensitive float sums that no "
    "cross-engine hash could pin), while the 8-tap form is what "
    "bounded-state streaming systems actually compute (weight "
    "0.7^8 < 6% residual) and is expressible as eight lag() taps "
    "under ONE window pass. Determinism discipline: every "
    "coefficient is a repr-exact double LITERAL shared by both "
    "engines (an engine-side 0.7*0.7*... constant-fold could round "
    "differently), the tap sum is written in one fixed "
    "left-associative order, inputs are pre-rounded at the daily "
    "agg, and only full windows emit (rn >= 8) so there are no "
    "NULL-tap edge semantics. Scale: one groupBy + one per-series "
    "window — state is 8 values per series regardless of history "
    "length.",
    tags=("timeseries", "window", "smoothing"),
)
def qts13_ewma_smoothing(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    daily = (
        ev.groupBy(
            F.col("event_type").alias("t"),
            F.to_date("ts").alias("day"),
        )
        .agg(F.round(F.sum("value"), 2).alias("v"))
    )
    w = Window.partitionBy("t").orderBy("day")
    lagged = daily.select(
        "t", "day", "v",
        *[F.lag("v", j).over(w).alias(f"v{j}") for j in range(1, 8)],
        F.row_number().over(w).alias("rn"),
    )
    taps = F.col("v") * F.lit(1.0)
    for j in range(1, 8):
        taps = taps + F.col(f"v{j}") * F.lit(0.7 ** j)
    return (
        lagged.filter(F.col("rn") >= 8)
        .select(
            "t",
            F.date_format("day", "yyyy-MM-dd").alias("day_s"),
            F.round(taps / F.lit(sum(0.7 ** j for j in range(8))), 6)
            .alias("ewma"),
        )
        .orderBy("t", "day_s")
    )


@query(
    "qmv2_cdf_incremental_refresh",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderpriority AS pri,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderdate AS ts
  FROM orders WHERE o_orderkey % 7 = 0),
batch AS (
  SELECT o_orderkey AS k, o_orderpriority AS pri,
         CAST(round((o_totalprice + 1000) * 100) AS BIGINT) AS cents,
         o_orderdate + INTERVAL 1 DAY AS ts
  FROM orders WHERE o_orderkey % 5 = 0),
v2_table AS (
  SELECT * FROM batch
  UNION ALL
  SELECT * FROM snap WHERE k NOT IN (SELECT k FROM batch)),
v3_table AS (SELECT * FROM v2_table WHERE k % 3 <> 0)
SELECT pri, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM v3_table GROUP BY pri ORDER BY pri
""",
    doc="qmv2: incremental MV refresh DRIVEN BY THE TABLE'S OWN "
    "CHANGE FEED — the composition the CDF pre-images exist for: "
    "a per-priority count+sum view is materialized from the "
    "commit-log table at v1; the table then takes a MERGE "
    "(inserts + updates) and a deletion-vector DELETE; the refresh "
    "consumes table_changes(v1, v3, include_preimages=True) — "
    "'update_preimage' rows RETRACT the old contribution (op D) and "
    "'update_postimage'/'insert' rows add the new one (op I), the "
    "canonical CDC encoding — and merges the signed delta aggregate "
    "into the stored view (operators/incremental.py: view side never "
    "re-scanned, delta side broadcast). Without pre-images this "
    "refresh is IMPOSSIBLE to do correctly — exactly why the CDF "
    "emits the Delta-complete pair. The measure is integer CENTS so "
    "the delta algebra is bit-exact (no float-reassociation slack): "
    "the refreshed view must equal the from-scratch recompute over "
    "the final snapshot to the last integer. At 100 TB: change "
    "volume crosses the wire, the view updates in delta-bounded "
    "work, and the feed comes from the table format itself — no "
    "external changelog infrastructure.",
    tags=("cdc", "incremental", "pipeline", "acid"),
)
def qmv2_cdf_incremental_refresh(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = os.path.join(fresh_dir("commit_log_mv"), "table")
    cl.create_table(spark, path, _cents(orders, 7), stats_cols=["k"])  # v1
    cl.merge_upsert(                                                  # v2
        spark, path, _cents(orders, 5, days=1), ["k"], "ts")
    v3 = cl.delete_where(spark, path, "k % 3 = 0",                    # v3
                         deletion_vectors=True)

    view = inc.build_view(
        cl.read_table(spark, path, 1), ["pri"], ["cents"])
    feed = cl.table_changes(
        spark, path, 1, v3, ["k"], include_preimages=True)
    return _view_rows(
        inc.refresh(view, _signed_ops(feed), ["pri"], ["cents"]))


@query(
    "qmv3_streaming_mv_maintenance",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderpriority AS pri,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderdate AS ts
  FROM orders WHERE o_orderkey % 7 = 0),
batch AS (
  SELECT o_orderkey AS k, o_orderpriority AS pri,
         CAST(round((o_totalprice + 1000) * 100) AS BIGINT) AS cents,
         o_orderdate + INTERVAL 1 DAY AS ts
  FROM orders WHERE o_orderkey % 5 = 0),
v2_table AS (
  SELECT * FROM batch
  UNION ALL
  SELECT * FROM snap WHERE k NOT IN (SELECT k FROM batch)),
v3_table AS (SELECT * FROM v2_table WHERE k % 3 <> 0),
v4_table AS (
  SELECT k, pri,
         CASE WHEN k % 11 = 0 THEN cents + 12345 ELSE cents END AS cents,
         ts
  FROM v3_table)
SELECT pri, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM v4_table GROUP BY pri ORDER BY pri
""",
    doc="qmv3: STREAMING materialized-view maintenance, end to end "
    "through the engine's own pieces (the Delta-Live-Tables shape): "
    "the source commit-log table takes a MERGE, a DV DELETE, and an "
    "UPDATE; its persisted CHANGE FEED streams via readChangeFeed "
    "(startingVersion=2 — v1 is the view's seed) into foreachBatch, "
    "where each micro-batch's change rows map to signed ops "
    "(update_preimage retracts — the pre-image pair is load-"
    "bearing here exactly as in qmv2), delta-aggregate, and "
    "MERGE INTO the view, itself a commit-log table keyed by group. "
    "Replay safety is an EPOCH WATERMARK carried in the view rows "
    "(the Delta txnVersion pattern): a crash-replayed batch would "
    "recompute its delta FROM the already-refreshed view and "
    "double-apply, so the sink skips any epoch at or below the "
    "view's recorded one. The declared output "
    "is the VIEW TABLE's final contents vs the from-scratch SQL "
    "replay of all four source stages — integer cents, so any lost/"
    "double-counted change row misses to the last integer. At "
    "100 TB: the view updates continuously at change-volume cost, "
    "with no external changelog infrastructure — source table, feed, "
    "and view all live in the same format.",
    tags=("cdc", "incremental", "streaming", "pipeline", "acid"),
)
def qmv3_streaming_mv_maintenance(spark, sf_dir):
    cls_.register(spark)
    orders = tables(spark, sf_dir).orders
    base = fresh_dir("commit_log_stream_mv")
    src, vw, ck = (os.path.join(base, d) for d in ("source", "view", "ck"))
    cl.create_table(spark, src, _cents(orders, 7), stats_cols=["k"],  # v1
                    change_data_feed=True)
    cl.merge_upsert(                                                 # v2
        spark, src, _cents(orders, 5, days=1), ["k"], "ts")
    cl.delete_where(spark, src, "k % 3 = 0",                         # v3
                    deletion_vectors=True)
    cl.update_where(spark, src, "k % 11 = 0",                        # v4
                    {"cents": "cents + 12345"})

    maintain = _view_sink(spark, src, vw)
    q = (
        spark.readStream.format("commitlog").option("path", src)
        .option("readChangeFeed", "true").option("startingVersion", 2)
        .load()
        .writeStream.foreachBatch(maintain)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    return _view_rows(cl.read_table(spark, vw))


@query(
    "qup25_replace_where",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price
  FROM orders WHERE o_orderkey % 6 = 0),
repl AS (
  SELECT k, st, round(price + 777, 2) AS price FROM snap
  WHERE st = 'F'),
after AS (
  SELECT * FROM repl
  UNION ALL
  SELECT * FROM snap WHERE st <> 'F'),
stages AS (
  SELECT 'a_before' AS stage, k, st, price FROM snap
  UNION ALL SELECT 'b_after', k, st, price FROM after)
SELECT stage, k, st, price FROM stages ORDER BY stage, k
""",
    doc="qup25: REPLACE WHERE (Delta's replaceWhere / INSERT "
    "OVERWRITE ... WHERE, commit_log.replace_where): the backfill "
    "idiom — every st='F' row is atomically replaced by its "
    "recomputed image (price+777) in ONE commit: delete-of-scope + "
    "insert-of-batch can never be observed half-applied, and time "
    "travel to 'a_before' still shows the original rows. The batch "
    "is GATED to the predicate's scope riding its own write "
    "(a batch row outside the scope refuses the whole commit — "
    "pinned in test_commit_log_replace_where, along with the "
    "key-range pruning that leaves non-matching directories "
    "unread). Cost shape is DELETE's: position scan -> rewrite only "
    "the containing directories + one batch directory; at 100 TB "
    "recomputing one day/segment costs that segment, not the "
    "table.",
    tags=("sink", "acid", "prune", "backfill"),
)
def qup25_replace_where(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    snap = _kv(orders, 6, ts=False)
    path = _tiled_table(spark, "commit_log_rw", snap)
    pre = cl.table_versions(path)[-1]
    batch = snap.filter(F.col("st") == "F").withColumn(
        "price", F.round(F.col("price") + 777, 2))
    cl.replace_where(spark, path, "st = 'F'", batch)
    before = cl.read_table(spark, path, pre)
    after = cl.read_table(spark, path)
    return (
        before.select(F.lit("a_before").alias("stage"), "k", "st", "price")
        .unionByName(
            after.select(F.lit("b_after").alias("stage"), "k", "st",
                         "price"))
        .orderBy("stage", "k")
    )


@query(
    "qpipe6_fim_transform",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS n
  FROM documents),
cut AS (
  SELECT doc_id, w, n,
         CAST(floor(n / 3) AS BIGINT) AS p1,
         CAST(floor(2 * n / 3) AS BIGINT) AS p2
  FROM t WHERE n >= 3)
SELECT doc_id,
       CAST(p1 AS INT) AS p1, CAST(p2 AS INT) AS p2,
       '<PRE>' || array_to_string(w[1 : p1], ' ')
       || '<SUF>' || array_to_string(w[p2 + 1 : n], ' ')
       || '<MID>' || array_to_string(w[p1 + 1 : p2], ' ')
         AS fim_text
FROM cut ORDER BY doc_id
""",
    doc="qpipe6: FILL-IN-MIDDLE transformation (the PSM permutation "
    "of Bavarian et al. / Code Llama's infilling pipeline): each "
    "document's token stream splits at deterministic thirds into "
    "(prefix, middle, suffix) and re-renders as "
    "<PRE>prefix<SUF>suffix<MID>middle — training on this teaches "
    "infilling with plain next-token loss, and at corpus scale the "
    "transform is a pure map (one split, three bounded slices, one "
    "concat — zero shuffles before the output sort, zero Python). "
    "Deterministic cut points stand in for the sampled ones "
    "production uses (an RNG cut could never hash-gate; the "
    "ARITHMETIC — slice boundaries, 0/1-based conversion, boundary "
    "docs with n<3 excluded, empty-slice rendering when n%3 rounds "
    "a segment to zero — is exactly what the oracle pins). Spark "
    "and DuckDB compute the same floor(n/3), floor(2n/3) BIGINTs, "
    "so every slice is provably identical.",
    tags=("llm", "pipeline", "transform", "tokenize"),
)
def qpipe6_fim_transform(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    t = docs.select(
        "doc_id", F.split("text", " ").alias("w"),
    ).withColumn("n", F.size("w").cast("bigint"))
    cut = (
        t.filter(F.col("n") >= 3)
        .withColumn("p1", F.floor(F.col("n") / 3).cast("bigint"))
        .withColumn("p2", F.floor(2 * F.col("n") / 3).cast("bigint"))
    )
    seg = lambda a, b: F.concat_ws(
        " ", F.slice(F.col("w"), a, b)
    )
    return (
        cut.select(
            "doc_id",
            F.col("p1").cast("int").alias("p1"),
            F.col("p2").cast("int").alias("p2"),
            F.concat(
                F.lit("<PRE>"), seg(F.lit(1), F.col("p1")),
                F.lit("<SUF>"),
                seg(F.col("p2") + 1, F.col("n") - F.col("p2")),
                F.lit("<MID>"), seg(F.col("p1") + 1,
                                    F.col("p2") - F.col("p1")),
            ).alias("fim_text"),
        )
        .orderBy("doc_id")
    )


@query(
    "qpipe7_chat_render_budget",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS n
  FROM documents),
cut AS (
  SELECT doc_id, w, n,
         CAST(floor(n / 4) AS BIGINT) AS np
  FROM t WHERE n >= 8),
b AS (
  SELECT doc_id, w, np,
         CASE WHEN n - np > 48 - np THEN 48 - np ELSE n - np END AS nc
  FROM cut)
SELECT doc_id, CAST(np AS INT) AS n_prompt, CAST(nc AS INT) AS n_completion,
       '<|user|>' || array_to_string(w[1 : np], ' ')
       || '<|assistant|>' || array_to_string(w[np + 1 : np + nc], ' ')
       || '<|end|>' AS rendered
FROM b ORDER BY doc_id
""",
    doc="qpipe7: CHAT-TEMPLATE rendering with a token budget and the "
    "loss-mask boundary — the SFT-formatting step between curation "
    "and tokenization: each document becomes a "
    "<|user|>prompt<|assistant|>completion<|end|> example (prompt = "
    "first quarter of the tokens, completion = the rest TRUNCATED so "
    "prompt+completion <= 48), and the emitted (n_prompt, "
    "n_completion) pair is exactly what the trainer's loss mask "
    "consumes (loss on completion tokens only). The two classic "
    "silent bugs this row pins: off-by-one at the prompt/completion "
    "boundary (a leaked prompt token trains on instructions) and "
    "budget truncation measured AFTER template tokens instead of "
    "content (the oracle's arithmetic is content-token exact). Pure "
    "map — one split, two bounded slices, zero shuffles before the "
    "output sort; docs under 8 tokens are excluded (too short to "
    "carry a prompt), the production filter shape.",
    tags=("llm", "pipeline", "transform", "sft"),
)
def qpipe7_chat_render_budget(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    t = docs.select(
        "doc_id", F.split("text", " ").alias("w"),
    ).withColumn("n", F.size("w").cast("bigint"))
    cut = (
        t.filter(F.col("n") >= 8)
        .withColumn("np", F.floor(F.col("n") / 4).cast("bigint"))
        .withColumn(
            "nc",
            F.least(F.col("n") - F.col("np"),
                    F.lit(48) - F.col("np")),
        )
    )
    return (
        cut.select(
            "doc_id",
            F.col("np").cast("int").alias("n_prompt"),
            F.col("nc").cast("int").alias("n_completion"),
            F.concat(
                F.lit("<|user|>"),
                F.concat_ws(" ", F.slice(F.col("w"), F.lit(1),
                                         F.col("np"))),
                F.lit("<|assistant|>"),
                F.concat_ws(" ", F.slice(F.col("w"), F.col("np") + 1,
                                         F.col("nc"))),
                F.lit("<|end|>"),
            ).alias("rendered"),
        )
        .orderBy("doc_id")
    )


@query(
    "qup26_constraint_lifecycle",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price
  FROM orders WHERE o_orderkey % 6 = 0),
capped AS (
  SELECT k, st,
         CASE WHEN price > 450000 THEN 450000.0 ELSE price END AS price
  FROM snap),
outlier AS (SELECT -1 AS k, 'X' AS st, 999999.0 AS price),
final AS (SELECT * FROM capped UNION ALL SELECT * FROM outlier),
stages AS (
  SELECT 'a_enforced' AS stage, k, st, price FROM capped
  UNION ALL SELECT 'b_dropped', k, st, price FROM final)
SELECT stage, k, st, price FROM stages ORDER BY stage, k
""",
    doc="qup26: CONSTRAINT LIFECYCLE as data (commit_log."
    "add_check_constraint / drop_check_constraint — ALTER TABLE "
    "CONSTRAINT, Delta's shape; the refusal paths are pinned in "
    "test_commit_log_add_drop_constraint, this row hashes the "
    "states): the table is created UNconstrained, an UPDATE caps "
    "every price at 450000 so the data SATISFIES the constraint "
    "about to be added (add validates existing rows with one "
    "early-exit pushdown scan — recording a constraint the data "
    "violates would make every later rewrite refuse), the "
    "constraint is added ('a_enforced' reads under it — and its "
    "rewrite-validating effect is live: the capping update itself "
    "re-runs under the CHECK in the capability test), then DROPPED, "
    "after which an outlier row far beyond the old bound appends "
    "cleanly ('b_dropped'). Both stages hash against the SQL "
    "replay; a stale fold (constraint resurrecting after drop, or "
    "not enforcing after add) changes which rows exist and "
    "mismatches.",
    tags=("sink", "acid", "ddl", "constraint"),
)
def qup26_constraint_lifecycle(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = os.path.join(fresh_dir("commit_log_constraint"), "table")
    cl.create_table(spark, path, _kv(orders, 6, ts=False), stats_cols=["k"])
    cl.update_where(spark, path, "price > 450000", {"price": "450000.0"})
    cl.add_check_constraint(spark, path, "price <= 450000")
    enforced = cl.read_table(spark, path)
    cl.drop_check_constraint(spark, path)
    cl.append(spark, path, spark.createDataFrame(
        [(-1, "X", 999999.0)], "k BIGINT, st STRING, price DOUBLE"
    ).select(
        "k", "st", F.col("price")))
    final = cl.read_table(spark, path)
    return (
        enforced.select(
            F.lit("a_enforced").alias("stage"), "k", "st", "price")
        .unionByName(final.select(
            F.lit("b_dropped").alias("stage"), "k", "st", "price"))
        .orderBy("stage", "k")
    )


@query(
    "qts14_cusum_changepoint",
    oracle="""
WITH daily AS (
  SELECT event_type AS t, CAST(ts AS DATE) AS day,
         round(sum(value), 2) AS v
  FROM events GROUP BY 1, 2),
med AS (
  SELECT t, round(quantile_cont(v, 0.5), 2) AS mu FROM daily GROUP BY t),
c AS (
  SELECT d.t, d.day, d.v - m.mu AS x
  FROM daily d JOIN med m USING (t)),
s1 AS (
  SELECT t, day, sum(x) OVER (PARTITION BY t ORDER BY day
                              ROWS UNBOUNDED PRECEDING) AS run
  FROM c),
s2 AS (
  SELECT t, day, run, min(run) OVER (PARTITION BY t ORDER BY day
                                     ROWS UNBOUNDED PRECEDING) AS lo
  FROM s1),
f AS (SELECT t, day, run - lo AS cusum FROM s2)
SELECT t, strftime(day, '%Y-%m-%d') AS day_s,
       round(cusum, 4) AS cusum, cusum > 500 AS breach
FROM f ORDER BY t, day_s
""",
    doc="qts14: CUSUM change-point detection over the daily per-type "
    "value series — the classic upward-shift monitor (Page 1954), in "
    "its REFLECTION form: the textbook recursion "
    "s_t = max(0, s_{t-1} + x_t) is a sequential fold no cross-engine "
    "hash could pin, but it equals S_t - min_{j<=t} S_j (running sum "
    "minus running minimum of the running sum), which is two plain "
    "ordered-frame window passes — and running aggregates over an "
    "ORDER BY frame evaluate SEQUENTIALLY in both engines, so the "
    "float sums are bit-identical. The reference level is the "
    "per-type MEDIAN (interpolated percentile — sort-based and "
    "cross-engine exact, unlike a mean whose reduction order "
    "drifts), so x = v - median and a sustained upward shift "
    "accumulates until the breach flag trips (literal threshold). "
    "Scale: one agg + one broadcast join + one per-series window — "
    "state is a running pair per series.",
    tags=("timeseries", "window", "monitoring"),
)
def qts14_cusum_changepoint(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    daily = (
        ev.groupBy(
            F.col("event_type").alias("t"),
            F.to_date("ts").alias("day"),
        )
        .agg(F.round(F.sum("value"), 2).alias("v"))
    )
    med = daily.groupBy("t").agg(
        F.round(F.expr("percentile(v, 0.5)"), 2).alias("mu"))
    c = daily.join(F.broadcast(med), "t").withColumn(
        "x", F.col("v") - F.col("mu"))
    w = (
        Window.partitionBy("t").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = c.withColumn("run", F.sum("x").over(w))
    s = s.withColumn("lo", F.min("run").over(w))
    f = s.withColumn("cusum", F.col("run") - F.col("lo"))
    return (
        f.select(
            "t",
            F.date_format("day", "yyyy-MM-dd").alias("day_s"),
            F.round("cusum", 4).alias("cusum"),
            (F.col("cusum") > 500).alias("breach"),
        )
        .orderBy("t", "day_s")
    )


@query(
    "qup27_merge_on_read",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price, o_orderdate AS ts
  FROM orders WHERE o_orderkey % 6 = 0),
batch AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice + 1000, 2) AS price,
         o_orderdate + CASE WHEN o_orderkey % 60 = 0
                            THEN INTERVAL 1 DAY
                            ELSE INTERVAL '-1' DAY END AS ts
  FROM orders WHERE o_orderkey % 5 = 0),
merged AS (
  SELECT b.k, b.st, b.price, b.ts FROM batch b
  LEFT JOIN snap s USING (k)
  WHERE s.k IS NULL OR b.ts >= s.ts
  UNION ALL
  SELECT s.k, s.st, s.price, s.ts FROM snap s
  LEFT JOIN batch b USING (k)
  WHERE b.k IS NULL OR b.ts < s.ts),
stages AS (
  SELECT 'a_mor' AS stage, k, st, price,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s FROM merged
  UNION ALL
  SELECT 'b_compacted', k, st, price,
         strftime(ts, '%Y-%m-%d %H:%M:%S') FROM merged)
SELECT stage, k, st, price, ts_s FROM stages ORDER BY stage, k
""",
    doc="qup27: MERGE-ON-READ (merge_upsert merge_on_read=True — "
    "Iceberg's merge-on-read / Delta's DV MERGE): the batch's "
    "superseded current rows die via a deletion-vector sidecar and "
    "its winning rows land as ONE appended directory — the commit "
    "touches zero existing data directories (pinned: removed=[] in "
    "test_commit_log_merge_on_read), so upsert cost tracks the batch "
    "+ a pruned position scan, deferring physical reconciliation to "
    "compact. Matched keys are the multiples of 30 (k%6=0 ∩ k%5=0); "
    "the batch splits them on k%60 so BOTH legs are populated: "
    "multiples of 60 arrive newer and WIN, the other multiples of 30 "
    "arrive older and LOSE — their rows must NOT replace the newer "
    "current ones, the half of merge semantics a naive delete+append "
    "gets wrong (a k%2 split would make every matched key a "
    "winner) — plus brand-new keys as plain inserts. "
    "'a_mor' reads THROUGH the vectors; 'b_compacted' after "
    "OPTIMIZE physically applied them — both must hash-match the "
    "rewrite-merge SQL truth exactly, so DV-served merge semantics "
    "== rewrite semantics == the SQL replay.",
    tags=("sink", "acid", "dv", "merge"),
)
def qup27_merge_on_read(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = _tiled_table(spark, "commit_log_mor", _kv(orders, 6))
    cl.merge_upsert(spark, path, _split_batch(orders), ["k"], "ts",
                    merge_on_read=True)
    a = cl.read_table(spark, path)           # through the vectors
    cl.compact(spark, path)
    b = cl.read_table(spark, path)           # physically reconciled

    def shape(df, stage):
        return df.select(
            F.lit(stage).alias("stage"), "k", "st", "price",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )

    return (
        shape(a, "a_mor").unionByName(shape(b, "b_compacted"))
        .orderBy("stage", "k")
    )


@query(
    "qev13_kaplan_meier",
    oracle="""
WITH fv AS (SELECT user_id, min(ts) AS t_view FROM events
            WHERE event_type = 'view' GROUP BY 1),
fp AS (SELECT user_id, min(ts) AS t_buy FROM events
       WHERE event_type = 'purchase' GROUP BY 1),
obs AS (SELECT max(ts) AS t_end FROM events),
subj AS (
  SELECT fv.user_id,
         CAST(floor((epoch_us(coalesce(t_buy, t_end))
                     - epoch_us(t_view)) / 86400e6) AS BIGINT) AS dur,
         (t_buy IS NOT NULL) AS ev
  FROM fv LEFT JOIN fp USING (user_id) CROSS JOIN obs
  WHERE t_buy IS NULL OR t_buy >= t_view),
grp AS (
  SELECT dur, CAST(count(*) AS BIGINT) AS m,
         CAST(count(*) FILTER (ev) AS BIGINT) AS e
  FROM subj GROUP BY dur),
km AS (
  SELECT dur, m, e,
         sum(m) OVER () - coalesce(sum(m) OVER (
             ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
             AND 1 PRECEDING), 0) AS at_risk
  FROM grp),
surv AS (
  SELECT dur, at_risk, e, m - e AS censored,
         product(1.0 - CAST(e AS DOUBLE) / at_risk) OVER (
             ORDER BY dur ROWS UNBOUNDED PRECEDING) AS s
  FROM km)
SELECT CAST(dur AS BIGINT) AS dur_days,
       CAST(at_risk AS BIGINT) AS at_risk,
       e AS n_events, censored AS n_censored,
       round(s, 6) AS survival
FROM surv ORDER BY dur_days
""",
    doc="qev13: KAPLAN-MEIER survival over time-to-convert — the "
    "censoring-correct companion to qev12's converter-only latency "
    "percentiles (which silently condition on conversion, the classic "
    "survivorship bias): every first-view user enters, non-converters "
    "are RIGHT-CENSORED at the observation end, and S(d) multiplies "
    "(1 - e_d/n_d) over event days with the risk set shrinking by "
    "both events and censorings. Determinism discipline: durations "
    "are exact integer DAYS from integer microseconds (qev12's "
    "dialect-trap note), risk sets and event counts are integers, "
    "each factor is one IEEE division, and the running product over "
    "an ORDER BY frame evaluates SEQUENTIALLY in both engines "
    "(qts14's running-aggregate argument, multiplicative) — so the "
    "survival curve is bit-identical, rounded 6dp only at the edge. "
    "Days with zero events contribute factor exactly 1.0 (identity "
    "multiply, bit-safe) and still report their censoring counts — "
    "the full KM table. Scale: two conditional-min aggs per user, "
    "one day-grouped agg, one ordered window — risk-set state is a "
    "scalar per series.",
    tags=("events", "survival", "window"),
)
def qev13_kaplan_meier(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    fv = ev.filter(F.col("event_type") == "view").groupBy(
        "user_id").agg(F.min("ts").alias("t_view"))
    fp = ev.filter(F.col("event_type") == "purchase").groupBy(
        "user_id").agg(F.min("ts").alias("t_buy"))
    obs = ev.agg(F.max("ts").alias("t_end"))
    subj = (
        fv.join(fp, "user_id", "left")
        .crossJoin(F.broadcast(obs))
        .filter(F.col("t_buy").isNull()
                | (F.col("t_buy") >= F.col("t_view")))
        .select(
            F.floor(
                (F.unix_micros(F.coalesce("t_buy", "t_end"))
                 - F.unix_micros("t_view")) / F.lit(86400e6)
            ).cast("bigint").alias("dur"),
            F.col("t_buy").isNotNull().alias("ev"),
        )
    )
    grp = subj.groupBy("dur").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(F.col("ev").cast("bigint")).cast("bigint").alias("e"),
    )
    wall = Window.partitionBy()
    wbefore = (
        Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = (
        Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    km = grp.withColumn(
        "at_risk",
        F.sum("m").over(wall)
        - F.coalesce(F.sum("m").over(wbefore), F.lit(0)),
    )
    surv = km.withColumn(
        "s",
        F.product(
            F.lit(1.0) - F.col("e").cast("double") / F.col("at_risk")
        ).over(wrun),
    )
    return (
        surv.select(
            F.col("dur").alias("dur_days"),
            F.col("at_risk").cast("bigint").alias("at_risk"),
            F.col("e").alias("n_events"),
            (F.col("m") - F.col("e")).alias("n_censored"),
            F.round("s", 6).alias("survival"),
        )
        .orderBy("dur_days")
    )


@query(
    "qts16_seasonal_decomposition",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(round(sum(value) * 100) AS BIGINT) AS vc
  FROM events GROUP BY 1),
tr AS (
  SELECT day, vc,
         sum(vc) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                       AND 3 FOLLOWING) AS w,
         count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                        AND 3 FOLLOWING) AS nw,
         row_number() OVER (ORDER BY day) AS rn,
         count(*) OVER () AS n
  FROM daily),
full_tr AS (
  SELECT day, vc, CAST(w AS DOUBLE) / nw AS trend
  FROM tr WHERE rn > 3 AND rn <= n - 3),
det AS (
  SELECT day, vc, trend, vc - trend AS detrended,
         CAST(dayofweek(day) AS BIGINT) AS dow
  FROM full_tr),
seas AS (
  SELECT dow, round(quantile_cont(detrended, 0.5), 4) AS seasonal
  FROM det GROUP BY dow)
SELECT strftime(d.day, '%Y-%m-%d') AS day_s,
       round(d.trend / 100.0, 4) + 0.0 AS trend,
       round(s.seasonal / 100.0, 4) + 0.0 AS seasonal,
       round((d.detrended - s.seasonal) / 100.0, 4) + 0.0 AS residual
FROM det d JOIN seas s USING (dow)
ORDER BY day_s
""",
    doc="qts16: SEASONAL DECOMPOSITION (STL-lite, the classic "
    "additive trend/seasonal/residual split): trend = centered 7-day "
    "moving average, seasonal = per-day-of-week MEDIAN of the "
    "detrended series, residual = remainder — the first thing an "
    "analyst runs on a daily metric. Determinism discipline: the "
    "daily series is INTEGER CENTS, so the sliding-frame sum is "
    "exact no matter how each engine maintains its frame (Spark's "
    "incremental add/subtract vs DuckDB's segment tree would drift "
    "on floats — the same class of trap qts13 dodged with literal "
    "coefficients); the trend is then ONE division, the seasonal a "
    "sort-based interpolated median over exact inputs, and edge "
    "days without a full 7-day window are excluded (row_number "
    "against the total, both engines identically). Scale: one agg, "
    "two window passes, one 7-row broadcast join.",
    tags=("timeseries", "window", "decomposition"),
)
def qts16_seasonal_decomposition(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.round(F.sum("value") * 100)
             .cast("bigint").alias("vc"))
    )
    wslide = Window.orderBy("day").rowsBetween(-3, 3)
    wrow = Window.orderBy("day")
    wall = Window.partitionBy()
    tr = (
        daily.withColumn("w", F.sum("vc").over(wslide))
        .withColumn("nw", F.count(F.lit(1)).over(wslide))
        .withColumn("rn", F.row_number().over(wrow))
        .withColumn("n", F.count(F.lit(1)).over(wall))
    )
    full_tr = tr.filter(
        (F.col("rn") > 3) & (F.col("rn") <= F.col("n") - 3)
    ).withColumn("trend", F.col("w").cast("double") / F.col("nw"))
    det = full_tr.withColumn(
        "detrended", F.col("vc") - F.col("trend")
    ).withColumn("dow", F.dayofweek("day").cast("bigint"))
    seas = det.groupBy("dow").agg(
        F.round(F.expr("percentile(detrended, 0.5)"), 4)
        .alias("seasonal"))
    return (
        det.join(F.broadcast(seas), "dow")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day_s"),
            # + 0.0 normalizes IEEE negative zero (round() can emit
            # -0.0 and the engines disagree on which; -0.0 + 0.0 is
            # +0.0 by the standard, every other value unchanged)
            (F.round(F.col("trend") / 100.0, 4) + 0.0).alias("trend"),
            (F.round(F.col("seasonal") / 100.0, 4) + 0.0)
            .alias("seasonal"),
            (F.round((F.col("detrended") - F.col("seasonal")) / 100.0, 4)
             + 0.0).alias("residual"),
        )
        .orderBy("day_s")
    )


@query(
    "qup28_write_defaults",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, round(o_totalprice, 2) AS price
  FROM orders WHERE o_orderkey % 6 = 0),
evolved AS (
  SELECT o_orderkey AS k, round(o_totalprice, 2) AS price,
         'batch2024' AS src
  FROM orders WHERE o_orderkey % 6 = 2
  UNION ALL
  SELECT o_orderkey, round(o_totalprice, 2), 'legacy'
  FROM orders WHERE o_orderkey % 6 = 4),
final AS (
  SELECT k, price, CAST(NULL AS VARCHAR) AS src FROM snap
  UNION ALL SELECT * FROM evolved)
SELECT k, price, src FROM final ORDER BY k
""",
    doc="qup28: WRITE-TIME column DEFAULTS (append defaults= — "
    "Delta's WriteDefault): an evolving append adds `src` with "
    "default 'legacy'; a later OLD-SHAPED batch (no src column — the "
    "producer that hasn't upgraded, the reason additive evolution "
    "exists) appends anyway and lands with the default filled at "
    "write, while the evolving batch's own values pass through and "
    "rows written BEFORE the column existed still read NULL — the "
    "exact three-way split (NULL / explicit / default) the oracle "
    "replays. The ExistsDefault half (pre-evolution rows read the "
    "default, append(backfill=True)) is declared by "
    "qup31_exists_default_backfill. Scale: the fill is a withColumn literal "
    "on the batch — zero reads of the table; the defaults map rides "
    "the log fold (checkpoint/clone/rename/drop keep it "
    "consistent).",
    tags=("sink", "acid", "ddl", "evolution"),
)
def qup28_write_defaults(spark, sf_dir):
    orders = tables(spark, sf_dir).orders

    def slc(rem, with_src=None):
        out = _kv(orders, 6, rem, ts=False).drop("st")
        if with_src is not None:
            out = out.withColumn("src", F.lit(with_src))
        return out

    path = os.path.join(fresh_dir("commit_log_defaults"), "table")
    cl.create_table(spark, path, slc(0))                     # v1
    cl.append(spark, path, slc(2, "batch2024"),              # v2 evolves
              merge_schema=True, defaults={"src": "'legacy'"})
    cl.append(spark, path, slc(4))                           # v3 old shape
    return cl.read_table(spark, path).orderBy("k")


@query(
    "qts17_autocorrelation",
    oracle="""
WITH daily AS (
  SELECT event_type AS t, CAST(ts AS DATE) AS day,
         round(sum(value), 2) AS v
  FROM events GROUP BY 1, 2),
lagged AS (
  SELECT t, v,
         lag(v, 1) OVER w AS v1,
         lag(v, 2) OVER w AS v2,
         lag(v, 3) OVER w AS v3
  FROM daily WINDOW w AS (PARTITION BY t ORDER BY day))
SELECT t,
       round(corr(v, v1), 4) AS acf1,
       round(corr(v, v2), 4) AS acf2,
       round(corr(v, v3), 4) AS acf3,
       CAST(count(*) AS BIGINT) AS n_days
FROM lagged GROUP BY t ORDER BY t
""",
    doc="qts17: AUTOCORRELATION function (lags 1-3) of the daily "
    "per-type value series — the seasonality/persistence diagnostic "
    "read before fitting any forecaster (qts11's backtest assumes "
    "weekly structure; this row is how you'd discover it). Pairwise "
    "corr over (v, lag_k v) with NULL lag heads dropped by corr's "
    "pair semantics in both engines; corr parity at 4dp is the "
    "qa8-established contract (both compute sample correlation; the "
    "reduction-order float drift sits orders of magnitude below the "
    "rounding). One agg + one window pass + one grouped agg.",
    tags=("timeseries", "window", "stats"),
)
def qts17_autocorrelation(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    daily = (
        ev.groupBy(
            F.col("event_type").alias("t"),
            F.to_date("ts").alias("day"),
        )
        .agg(F.round(F.sum("value"), 2).alias("v"))
    )
    w = Window.partitionBy("t").orderBy("day")
    lagged = daily.select(
        "t", "v",
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 2).over(w).alias("v2"),
        F.lag("v", 3).over(w).alias("v3"),
    )
    return (
        lagged.groupBy("t")
        .agg(
            F.round(F.corr("v", "v1"), 4).alias("acf1"),
            F.round(F.corr("v", "v2"), 4).alias("acf2"),
            F.round(F.corr("v", "v3"), 4).alias("acf3"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
        )
        .orderBy("t")
    )


@query(
    "qup29_update_on_read",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price
  FROM orders WHERE o_orderkey % 6 = 0),
upd AS (
  SELECT k,
         CASE WHEN st = 'F' THEN 'U' ELSE st END AS st,
         CASE WHEN st = 'F' THEN round(price + 100, 2) ELSE price END
           AS price
  FROM snap),
stages AS (
  SELECT 'a_dv' AS stage, k, st, price FROM upd
  UNION ALL SELECT 'b_compacted', k, st, price FROM upd)
SELECT stage, k, st, price FROM stages ORDER BY stage, k
""",
    doc="qup29: DV-MODE UPDATE (update_where merge_on_read=True — "
    "Delta's deletion-vector UPDATE, completing "
    "the zero-rewrite conversion: DELETE got vectors in qup16, MERGE "
    "in qup27, UPDATE here): the matched rows' positions die via a "
    "deletion-vector sidecar and their UPDATED images land as ONE "
    "appended directory — the commit removes zero data directories "
    "(pinned: removed=[] and dv_rows>0 in test_capabilities.py::"
    "test_update_on_read), so a selective UPDATE into a 100 TB table "
    "costs a position scan plus the matched rows, deferring physical "
    "reconciliation to compact. Identical statement to qup18's "
    "rewrite UPDATE (SET st='U', price+=100 WHERE st='F' over the "
    "same three-directory snapshot): 'a_dv' reads THROUGH the "
    "vectors, 'b_compacted' after OPTIMIZE physically applied them — "
    "both must hash-match the same SQL truth, so DV-served UPDATE "
    "semantics == rewrite semantics == the SQL replay. CDC pre/post "
    "pairs come from the same matched set as the rewrite path "
    "(equality pinned in the capability test).",
    tags=("sink", "acid", "update", "dv"),
)
def qup29_update_on_read(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = _tiled_table(
        spark, "commit_log_update_mor", _kv(orders, 6, ts=False))
    cl.update_where(
        spark, path, "st = 'F'",
        {"st": "'U'", "price": "round(price + 100, 2)"},
        merge_on_read=True,
    )
    a = cl.read_table(spark, path)           # through the vectors
    cl.compact(spark, path)
    b = cl.read_table(spark, path)           # physically reconciled

    def shape(df, stage):
        return df.select(F.lit(stage).alias("stage"), "k", "st", "price")

    return (
        shape(a, "a_dv").unionByName(shape(b, "b_compacted"))
        .orderBy("stage", "k")
    )


@query(
    "qup30_mor_schema_evolution",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price, o_orderdate AS ts
  FROM orders WHERE o_orderkey % 6 = 0),
batch AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice + 1000, 2) AS price,
         o_orderdate + CASE WHEN o_orderkey % 60 = 0
                            THEN INTERVAL 1 DAY
                            ELSE INTERVAL '-1' DAY END AS ts,
         'mor' AS src2
  FROM orders WHERE o_orderkey % 5 = 0),
merged AS (
  SELECT b.k, b.st, b.price, b.ts, b.src2 FROM batch b
  LEFT JOIN snap s USING (k)
  WHERE s.k IS NULL OR b.ts >= s.ts
  UNION ALL
  SELECT s.k, s.st, s.price, s.ts, CAST(NULL AS VARCHAR) FROM snap s
  LEFT JOIN batch b USING (k)
  WHERE b.k IS NULL OR b.ts < s.ts),
stages AS (
  SELECT 'a_mor' AS stage, k, st, price, src2,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s FROM merged
  UNION ALL
  SELECT 'b_compacted', k, st, price, src2,
         strftime(ts, '%Y-%m-%d %H:%M:%S') FROM merged)
SELECT stage, k, st, price, src2, ts_s FROM stages ORDER BY stage, k
""",
    doc="qup30: MERGE-ON-READ x SCHEMA EVOLUTION: one "
    "merge_upsert(merge_schema=True, merge_on_read=True) commit "
    "whose batch ADDS a column (src2) evolves the recorded schema, "
    "vectors the superseded current rows (positions are "
    "shape-agnostic), and appends the winners in the NEW shape — "
    "zero existing directories touched (pinned: removed=[] and "
    "schema_evolved in test_capabilities.py::"
    "test_mor_schema_evolution). Old directories read NULL in src2 "
    "through the recorded-schema scan (qup13 semantics, no footer "
    "merge); qup27's winner/loser key split (k%60 wins, other k%30 "
    "loses) keeps both merge legs populated. 'a_mor' reads through "
    "the vectors, 'b_compacted' after OPTIMIZE physically applied "
    "them AND rewrote old rows into the evolved shape — both must "
    "hash-match the evolve-then-rewrite-merge SQL truth; time travel "
    "before the merge keeps the old 4-column shape (pinned in the "
    "capability test).",
    tags=("sink", "acid", "dv", "merge", "schema-evolution"),
)
def qup30_mor_schema_evolution(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = _tiled_table(spark, "commit_log_mor_evolve", _kv(orders, 6))
    cl.merge_upsert(
        spark, path, _split_batch(orders).withColumn("src2", F.lit("mor")),
        ["k"], "ts", merge_schema=True, merge_on_read=True,
    )
    a = cl.read_table(spark, path)           # through the vectors
    cl.compact(spark, path)
    b = cl.read_table(spark, path)           # physically reconciled

    def shape(df, stage):
        return df.select(
            F.lit(stage).alias("stage"), "k", "st", "price", "src2",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )

    return (
        shape(a, "a_mor").unionByName(shape(b, "b_compacted"))
        .orderBy("stage", "k")
    )


@query(
    "qmv4_rate_limited_cdf_mv",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderpriority AS pri,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderdate AS ts
  FROM orders WHERE o_orderkey % 7 = 0),
b1 AS (
  SELECT o_orderkey AS k, o_orderpriority AS pri,
         CAST(round((o_totalprice + 1000) * 100) AS BIGINT) AS cents,
         o_orderdate + INTERVAL 1 DAY AS ts
  FROM orders WHERE o_orderkey % 5 = 0),
v2_t AS (
  SELECT * FROM b1
  UNION ALL
  SELECT * FROM snap WHERE k NOT IN (SELECT k FROM b1)),
v3_t AS (SELECT * FROM v2_t WHERE k % 3 <> 0),
v4_t AS (
  SELECT k, pri,
         CASE WHEN k % 11 = 0 THEN cents + 12345 ELSE cents END AS cents,
         ts
  FROM v3_t),
b2 AS (
  SELECT o_orderkey AS k, o_orderpriority AS pri,
         CAST(round((o_totalprice + 2000) * 100) AS BIGINT) AS cents,
         o_orderdate + INTERVAL 2 DAY AS ts
  FROM orders WHERE o_orderkey % 4 = 0),
v5_t AS (
  SELECT * FROM b2
  UNION ALL
  SELECT * FROM v4_t WHERE k NOT IN (SELECT k FROM b2))
SELECT pri, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM v5_t GROUP BY pri ORDER BY pri
""",
    doc="qmv4: RATE-LIMITED CDF STREAM feeding the MV maintenance "
    "loop (qup23's change feed + qup12's "
    "admission control + qmv3's refresh, composed): the source table "
    "takes FOUR change commits — a rewrite MERGE, a DV DELETE, the "
    "new DV-MODE UPDATE (qup29's writer, proving its CDC pairs ride "
    "the feed), and a MERGE-ON-READ merge (qup27's CDC path) — and "
    "the view is maintained from readChangeFeed with "
    "maxVersionsPerTrigger=1, so the four-version backlog is "
    "admitted as FOUR micro-batches, each refreshing the view "
    "incrementally under the epoch watermark (one-version-per-batch "
    "admission is pinned by counting checkpoint offsets in "
    "tests/test_streaming.py::test_qmv4_admits_one_version_per_batch"
    "). The declared gate: the view's final contents must equal the "
    "from-scratch SQL replay of all five source stages, integer "
    "cents — a change row lost to admission chunking, a pre-image "
    "missed from the DV-update sidecar, or a double-applied replay "
    "misses to the last integer. At 100 TB this is how a view "
    "catches up a week-long backlog without one giant micro-batch.",
    tags=("cdc", "incremental", "streaming", "pipeline", "acid"),
)
def qmv4_rate_limited_cdf_mv(spark, sf_dir):
    cls_.register(spark)
    orders = tables(spark, sf_dir).orders
    base = fresh_dir("commit_log_ratelimited_mv")
    src, vw, ck = (os.path.join(base, d) for d in ("source", "view", "ck"))
    cl.create_table(spark, src, _cents(orders, 7), stats_cols=["k"],  # v1
                    change_data_feed=True)
    cl.merge_upsert(                                                 # v2
        spark, src, _cents(orders, 5, days=1), ["k"], "ts")
    cl.delete_where(spark, src, "k % 3 = 0",                         # v3
                    deletion_vectors=True)
    cl.update_where(spark, src, "k % 11 = 0",                        # v4
                    {"cents": "cents + 12345"}, merge_on_read=True)
    cl.merge_upsert(spark, src, _cents(orders, 4, days=2), ["k"], "ts",
                    merge_on_read=True)                              # v5

    maintain = _view_sink(spark, src, vw)
    # the Python DataSource falls back to single-batch execution under
    # availableNow (Spark logs it), so the capped stream is DRAINED
    # the qup12 way: one run per admitted version over the SAME
    # checkpoint — four runs for the four-version backlog, each batch
    # one version, batch ids continuing across runs so the epoch
    # watermark still totally orders the refreshes
    for _ in range(4):
        q = (
            spark.readStream.format("commitlog").option("path", src)
            .option("readChangeFeed", "true")
            .option("startingVersion", 2)
            .option("maxVersionsPerTrigger", "1")
            .load()
            .writeStream.foreachBatch(maintain)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
    return _view_rows(cl.read_table(spark, vw))


@query(
    "qup31_exists_default_backfill",
    oracle="""
WITH rows_ AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         CASE WHEN o_orderkey % 9 = 6 THEN round(o_totalprice, 2)
              ELSE -1.23 END AS price
  FROM orders WHERE o_orderkey % 9 IN (0, 1, 3, 6)),
stages AS (
  SELECT 'a_served' AS stage, k, st, price FROM rows_
  UNION ALL SELECT 'b_compacted', k, st, price FROM rows_)
SELECT stage, k, st, price FROM stages ORDER BY stage, k
""",
    doc="qup31: EXISTS-DEFAULT read-time backfill (append backfill="
    "True — no per-file default metadata is needed: "
    "every data directory's NAME embeds the version that "
    "committed it, so 'was this row written before the column "
    "existed' is one regexp over the scan's file path, a pure "
    "projection with zero extra I/O). Two pre-evolution directories "
    "(k%9 in 0,3) land as (k, st); the evolution adds price with "
    "defaults + backfill=True; an old-shaped append (k%9=1) then "
    "fills at write (qup28's WriteDefault). The gate: pre-evolution "
    "ROWS read the frozen default (-1.23), NOT NULL — Delta's "
    "ExistsDefault semantics — while the evolution batch's own rows "
    "keep their real values; 'a_served' reads through the "
    "projection, 'b_compacted' after OPTIMIZE physically "
    "MATERIALIZED the defaults (the rewrite reads through the "
    "backfill, and the new directory's version exceeds every intro "
    "version) — both hash-match one SQL truth. Time travel keeps "
    "the old shape; checkpoint/clone/restore carry the map; rename "
    "re-keys it; drop removes it; post-evolution NULLs stay NULL "
    "(all pinned in test_capabilities.py::"
    "test_exists_default_backfill).",
    tags=("sink", "acid", "schema-evolution", "defaults"),
)
def qup31_exists_default_backfill(spark, sf_dir):
    orders = tables(spark, sf_dir).orders

    def old(res):  # the pre-evolution shape (k, st)
        return _kv(orders, 9, res, ts=False).drop("price")

    path = os.path.join(fresh_dir("commit_log_backfill"), "table")
    cl.create_table(spark, path, old(0), stats_cols=["k"])
    cl.append(spark, path, old(3), stats_cols=["k"])
    cl.append(spark, path, _kv(orders, 9, 6, ts=False), stats_cols=["k"],
              merge_schema=True, defaults={"price": "-1.23"},
              backfill=True)
    cl.append(spark, path, old(1), stats_cols=["k"])
    a = cl.read_table(spark, path)           # backfill projection
    cl.compact(spark, path)
    b = cl.read_table(spark, path)           # physically materialized

    def shape(df, stage):
        return df.select(F.lit(stage).alias("stage"), "k", "st", "price")

    return (
        shape(a, "a_served").unionByName(shape(b, "b_compacted"))
        .orderBy("stage", "k")
    )


@query(
    "qup32_small_file_compaction",
    oracle="""
WITH t AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price
  FROM orders
  WHERE o_orderkey % 2 = 0 OR o_orderkey % 1000 IN (1, 3, 5, 7))
SELECT k, st, price FROM t WHERE k % 6 <> 0 ORDER BY k
""",
    doc="qup32: SIZE-SELECTIVE OPTIMIZE (commit_log.compact_small — "
    "an auto-compact that is not full-table): "
    "three well-sized directories (thirds of the even keys) plus "
    "four tiny ones (k%1000 residue slices — the micro-batch-ingest "
    "debris shape) and a live deletion vector (DV DELETE of k%6=0, "
    "aimed at the big directories); compact_small with a threshold "
    "measured between the two size classes rewrites ONLY the small "
    "directories (removed == the small set, big dirs stay listed "
    "unread — pinned in test_capabilities.py::test_compact_small "
    "along with the surgical vector handling: vectors aimed at "
    "selected dirs are applied physically, vectors aimed at "
    "unselected dirs survive as ONE residual sidecar, so no dead "
    "row revives and no big directory pays a rewrite). The declared "
    "gate is content: the post-compaction read must hash-match the "
    "logical table — survivors of the DV delete over big+small rows "
    "— proving selection, residual vectors, and the merge left the "
    "data bit-identical. At 100 TB this is the nightly fact-table "
    "job: cost tracks the small-file debris, never the bulk.",
    tags=("sink", "acid", "optimize", "small-files"),
)
def qup32_small_file_compaction(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = _tiled_table(spark, "commit_log_small", _kv(orders, 2, ts=False))
    for res in (1, 3, 5, 7):
        cl.append(spark, path, _kv(orders, 1000, res, ts=False),
                  stats_cols=["k"])
    cl.delete_where(spark, path, "k % 6 = 0", deletion_vectors=True)

    # threshold between the measured size classes: big = the three
    # ntile dirs, small = the four residue dirs (driver-side stat)
    commits = cl._read_state_commits(path)
    live = cl._table_state(commits).live

    def nbytes(rel):
        tot = 0
        for root, _d, files in os.walk(os.path.join(path, rel)):
            tot += sum(os.path.getsize(os.path.join(root, f))
                       for f in files if not f.startswith(("_", ".")))
        return tot

    sizes = sorted(nbytes(d) for d in live)
    thr = (sizes[3] + sizes[4]) // 2 + 1   # 4 small below, 3 big above
    cl.compact_small(spark, path, thr)
    return cl.read_table(spark, path).orderBy("k")


@query(
    "qup33_bloom_pruned_merge",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price, o_orderdate AS ts
  FROM orders),
sel AS (SELECT k FROM snap ORDER BY k LIMIT 3),
batch AS (
  SELECT k, st, round(price + 1000, 2) AS price,
         ts + INTERVAL 1 DAY AS ts
  FROM snap WHERE k IN (SELECT k FROM sel)),
merged AS (
  SELECT * FROM batch
  UNION ALL
  SELECT * FROM snap WHERE k NOT IN (SELECT k FROM sel))
SELECT k, st, price, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM merged ORDER BY k
""",
    doc="qup33: BLOOM-PRUNED MERGE (per-directory bloom filters in "
    "the commit stats — the Delta bloom-filter-index / Iceberg "
    "bloom shape rendered portably via operators/sketch's "
    "4096-bit/k=3 Kirsch-Mitzenmacher construction): the table is "
    "laid down INTERLEAVED on k%8 — every directory spans the full "
    "key range, so min/max stats prune NOTHING for any batch (the "
    "layout stats-based skipping cannot save, qup8's counter-case) "
    "— but each directory's recorded k-bloom can answer 'could this "
    "POINT key be here' and merge_upsert probes all candidates with "
    "one batch-sized aggregation, skipping every directory no batch "
    "key can inhabit (sound: blooms have no false negatives; FPs "
    "only cost the scan ranges would have paid anyway). The batch "
    "updates the 3 smallest keys; the declared gate is merge "
    "semantics over the full table; exact pruning counts, "
    "no-false-prune, bloom survival across compact (the stats-"
    "erosion discipline), and the all-new-keys pure-insert path are "
    "pinned in test_capabilities.py::test_bloom_dir_stats. At "
    "100 TB this is how point upserts into an append-ordered fact "
    "table stop scanning every partition.",
    tags=("sink", "acid", "merge", "bloom", "pruning"),
)
def qup33_bloom_pruned_merge(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    snap = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.round("o_totalprice", 2).alias("price"),
        F.col("o_orderdate").alias("ts"),
    )
    path = os.path.join(fresh_dir("commit_log_bloom"), "table")
    cl.create_table(spark, path, snap.filter(F.col("k") % 8 == 0),
                    stats_cols=["k"], bloom_cols=["k"])
    for res in range(1, 8):
        cl.append(spark, path, snap.filter(F.col("k") % 8 == res),
                  stats_cols=["k"])
    sel = snap.orderBy("k").limit(3).select("k")
    batch = snap.join(F.broadcast(sel), "k").select(
        "k", "st",
        F.round(F.col("price") + 1000, 2).alias("price"),
        (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("ts"),
    )
    cl.merge_upsert(spark, path, batch, ["k"], "ts")
    return (
        cl.read_table(spark, path)
        .select(
            "k", "st", "price",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
        .orderBy("k")
    )


@query(
    "qup34_cdf_by_timestamp",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price, o_orderdate AS ts
  FROM orders WHERE o_orderkey % 7 = 0),
b AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice + 1000, 2) AS price,
         o_orderdate + INTERVAL 1 DAY AS ts
  FROM orders WHERE o_orderkey % 5 = 0),
ch AS (
  SELECT b.k, b.st, b.price,
         strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
         CASE WHEN s.k IS NULL THEN 'insert' ELSE 'update' END
           AS _change_type
  FROM b LEFT JOIN snap s USING (k))
SELECT k, st, price, ts_s, _change_type FROM ch ORDER BY k
""",
    doc="qup34: CDF ADDRESSED BY TIMESTAMP (table_changes ts_from/"
    "ts_to — Delta's startingTimestamp/endingTimestamp): the "
    "caller asks 'what changed between this instant and that one' "
    "and each instant resolves to the newest version committed at "
    "or before it (the version_as_of rule AS OF TIMESTAMP time "
    "travel already uses) — no version bookkeeping at the call "
    "site. The row captures wall-clock instants between the create "
    "and the merge and diffs by them: matched keys surface as "
    "'update' post-images, new keys as 'insert', deletes none — "
    "hash-matched against the batch-vs-snapshot SQL diff. Exactly-"
    "one-of validation (version xor timestamp per endpoint) is "
    "pinned in the capability tier. At 100 TB this is the "
    "'reconcile since last night's run' call, addressed the way "
    "operators actually schedule it: by clock, not by version.",
    tags=("cdc", "acid", "timetravel"),
)
def qup34_cdf_by_timestamp(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = os.path.join(fresh_dir("commit_log_ts_cdf"), "table")
    cl.create_table(spark, path, _kv(orders, 7), stats_cols=["k"])  # v1
    time.sleep(0.05)
    t_mid = time.time()
    time.sleep(0.05)
    cl.merge_upsert(spark, path, _batch(orders, 5), ["k"], "ts")    # v2
    t_end = time.time()
    return (
        cl.table_changes(
            spark, path, key_cols=["k"], ts_from=t_mid, ts_to=t_end)
        .select(
            "k", "st", "price",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "_change_type",
        )
        .orderBy("k")
    )


@query(
    "qup35_generated_columns",
    oracle="""
WITH snap AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice, 2) AS price, o_orderdate AS ts
  FROM orders WHERE o_orderkey % 4 IN (0, 1)),
b AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         round(o_totalprice + 1000, 2) AS price,
         o_orderdate + INTERVAL 1 DAY AS ts
  FROM orders WHERE o_orderkey % 4 IN (0, 2)),
merged AS (
  SELECT * FROM b
  UNION ALL
  SELECT * FROM snap WHERE k NOT IN (SELECT k FROM b))
SELECT k, st, price,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day_s
FROM merged ORDER BY k
""",
    doc="qup35: GENERATED COLUMNS (create_table gen_cols= — Delta's "
    "GENERATED ALWAYS AS): `day` is declared as CAST(ts AS "
    "DATE) at create and NO writer ever supplies it — create fills "
    "the initial rows, append fills its batch, merge fills both its "
    "matched and inserted rows (including the merged rows' NEW ts: "
    "day re-derives from the post-merge value, not the pre-image) — "
    "while a writer that DOES supply the column is validated by a "
    "null-safe equality conjunct riding the data write's existing "
    "CHECK Observation, zero extra passes (a wrong supplied value "
    "refuses the whole commit; pinned in test_capabilities.py::"
    "test_generated_columns along with UPDATE re-derivation, the "
    "rename/drop fixed-derivation guards, checkpoint carry, and "
    "day-range data skipping). The declared gate: the full table "
    "must hash-match the merge SQL truth WITH day recomputed per "
    "row — any writer that forgot to fill, filled from a stale "
    "pre-image, or validated against the wrong expression is a "
    "mismatch. At 100 TB this is the partition-by-derived-date "
    "idiom: predicates on `day` data-skip via its recorded stats "
    "without the writer fleet ever computing it.",
    tags=("sink", "acid", "generated", "schema"),
)
def qup35_generated_columns(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    path = os.path.join(fresh_dir("commit_log_gen"), "table")
    cl.create_table(
        spark, path, _kv(orders, 4), stats_cols=["k", "day"],
        gen_cols={"day": "CAST(ts AS DATE)"})
    cl.append(spark, path, _kv(orders, 4, 1), stats_cols=["k", "day"])
    # the even keys: o_orderkey % 4 IN (0, 2)
    cl.merge_upsert(spark, path, _batch(orders, 2), ["k"], "ts")
    return (
        cl.read_table(spark, path)
        .select(
            "k", "st", "price",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            F.date_format("day", "yyyy-MM-dd").alias("day_s"),
        )
        .orderBy("k")
    )


@query(
    "qcur11_preference_pairs",
    oracle="""
WITH s AS (
  SELECT doc_id, doc_id % 40 AS grp,
         CAST(2 * len(list_distinct(string_split(text, ' ')))
              - len(string_split(text, ' ')) AS BIGINT) AS score
  FROM documents),
best AS (SELECT *, row_number() OVER (PARTITION BY grp
                                      ORDER BY score DESC NULLS LAST,
                                               doc_id) AS r
         FROM s),
worst AS (SELECT *, row_number() OVER (PARTITION BY grp
                                       ORDER BY score ASC NULLS LAST,
                                                doc_id) AS r
          FROM s)
SELECT b.grp, b.doc_id AS chosen_id, w.doc_id AS rejected_id,
       b.score AS chosen_score, w.score AS rejected_score,
       b.score - w.score AS margin
FROM best b JOIN worst w ON b.grp = w.grp AND b.r = 1 AND w.r = 1
ORDER BY b.grp
""",
    doc="qcur11: PREFERENCE-PAIR construction (the RLHF/DPO data-prep "
    "shape): responses grouped by synthetic prompt (doc_id%40), "
    "scored by a deterministic lexical-richness proxy (2*distinct "
    "words - total words, integer — the qta-family discipline: no "
    "float ever enters the ranking), and each group emits ONE "
    "(chosen, rejected) pair — argmax vs argmin with doc_id "
    "tiebreaks, both via rank-1 windows, margins integer. The gate "
    "hashes the exact pair selection per group, the part that "
    "silently drifts when someone changes the score or tiebreak and "
    "every downstream DPO run inherits it. Scale shape: one "
    "map-side score projection + two rank-1 windows over the group "
    "key + a group-count-sized join — at 100 TB the windows reduce "
    "per group, never globally; the margin column doubles as the "
    "pair-quality filter threshold downstream.",
    tags=("llm", "pipeline", "curation", "preference"),
)
def qcur11_preference_pairs(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    s = docs.select(
        "doc_id",
        (F.col("doc_id") % 40).alias("grp"),
        (2 * F.size(F.array_distinct(F.split("text", " ")))
         - F.size(F.split("text", " "))).cast("bigint").alias("score"),
    )
    # NULLS LAST stated explicitly on both rankings (SURVEY §2.0
    # rule: Spark's asc defaults NULLS FIRST, DuckDB's NULLS LAST —
    # one NULL text row would otherwise flip the rejected pick)
    wb = Window.partitionBy("grp").orderBy(
        F.desc_nulls_last("score"), "doc_id")
    ww = Window.partitionBy("grp").orderBy(
        F.asc_nulls_last("score"), "doc_id")
    best = (
        s.withColumn("r", F.row_number().over(wb)).filter("r = 1")
        .select("grp", F.col("doc_id").alias("chosen_id"),
                F.col("score").alias("chosen_score"))
    )
    worst = (
        s.withColumn("r", F.row_number().over(ww)).filter("r = 1")
        .select("grp", F.col("doc_id").alias("rejected_id"),
                F.col("score").alias("rejected_score"))
    )
    return (
        best.join(worst, "grp")
        .select(
            "grp", "chosen_id", "rejected_id",
            "chosen_score", "rejected_score",
            (F.col("chosen_score") - F.col("rejected_score"))
            .alias("margin"),
        )
        .orderBy("grp")
    )
