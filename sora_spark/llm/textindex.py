"""On-disk POSTINGS-LIST text index — the text-search twin of the IVF
vector index (llm/ann.py write_ivf_index): build once, then serve
BM25 / phrase queries reading only the term buckets the query
touches.

Layout: `<path>` holds the postings relation (term, doc_id, tf, dl
[, positions]) Hive-partitioned by `_tb = pmod(xxhash64(term),
n_buckets)`; document length rides denormalized IN the posting (the
Lucene norms-in-postings trick), so scoring never joins a doc-length
table; `positions=True` adds each posting's sorted in-doc position
array (the Lucene positions trade — one int per token) for
phrase/proximity queries. Sidecars: `<path>_terms` (term, df —
VOCABULARY-sized, so it is itself Hive-partitioned by the same `_tb`
hash: multi-task writes and bucket-pruned lookups, never a
coalesce(1) straggler) and `<path>_consts` (n_docs, sum_dl,
n_buckets — one row by construction). Each sidecar's schema is one
DDL string in `_SIDECARS`, applied by its writer and by every read,
so no read infers a schema from a footer.

THE SIDECARS ARE A CACHE: df and the corpus constants are pure
aggregates of the postings relation (dl is denormalized per doc), so
`rebuild_sidecars` re-derives both with two column-pruned reads of
the index — never re-tokenizing the corpus. Build and append both go
through it, which is also the CRASH-RECOVERY path: an append is
postings-append (the only mutation of record) followed by a sidecar
rebuild, so a failure between the two leaves correct postings with
stale sidecars, and re-running `rebuild_sidecars` restores
consistency exactly. Multi-file atomicity beyond that (concurrent
writers, torn sidecar swaps) is the commit-log module's job — wrap
index directories in a commit_log table for that regime.

Query cost at 100 TB: a Q-term query reads <= Q of the n_buckets
partition directories (file-level partition pruning on `_tb`, the
qix-IVF mechanism, plan-pinned in tests/test_plans.py) and pushes
`term IN (...)` into those scans; everything after the scan is
|matching postings| sized. BM25 arithmetic is bit-compatible with
the from-scratch scorer (textstats.bm25_topk): Lucene idf, same
k1/b, per-term contributions rounded to 6dp before the per-doc sum.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# the declared schema of each index sidecar, by suffix (`_tb` is the
# `_terms` partition column)
_SIDECARS = {
    "_terms": "term STRING, df BIGINT, _tb BIGINT",
    "_consts": "n_docs BIGINT, sum_dl BIGINT, n_buckets INT",
}


def _postings(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    positions: bool,
    n_buckets,
) -> DataFrame:
    """ONE tokenize pass → the postings relation (term, doc_id, tf,
    dl[, positions], _tb). Shared verbatim by build and append so
    tokenization and bucket hashing can never diverge between them
    (divergent hashing would land appended postings in the wrong
    buckets and queries would silently miss them)."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "term"),
    )
    if positions:
        tf = tok.groupBy("doc_id", "term").agg(
            F.sort_array(F.collect_list("pos")).alias("positions")
        ).withColumn("tf", F.size("positions").cast("bigint"))
    else:
        tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    return tf.join(dl, "doc_id").withColumn(
        "_tb", F.pmod(F.xxhash64("term"), F.lit(n_buckets))
    )


def _term_buckets(spark, terms: list[str], nb: int) -> list[int]:
    """The query terms' partition buckets, via the SAME JVM hash the
    writer used (one tiny job — literals through xxhash64)."""
    return [
        r[0]
        for r in spark.createDataFrame([(t,) for t in terms], "term string")
        .select(F.pmod(F.xxhash64("term"), F.lit(nb)))
        .distinct()
        .collect()
    ]


def _sidecar(spark, path: str, sfx: str) -> DataFrame:
    """The `<path><sfx>` sidecar, read with its declared schema."""
    return spark.read.schema(_SIDECARS[sfx]).parquet(path + sfx)


def _consts(spark, path: str):
    """The one `<path>_consts` row."""
    return _sidecar(spark, path, "_consts").collect()[0]


def _swap_sidecar(frame: DataFrame, path: str, sfx: str) -> None:
    """Write the `<path><sfx>` sidecar in its declared schema (`_terms`
    partitioned by `_tb`) under a temp name and swap it in via rename
    — a crash mid-write leaves either the old or the new sidecar,
    never a torn one."""
    final = path + sfx
    tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
    w = frame.to(StructType.fromDDL(_SIDECARS[sfx])).write.mode("overwrite")
    if sfx == "_terms":
        w = w.partitionBy("_tb")
    w.parquet(tmp)
    old = f"{final}.old-{uuid.uuid4().hex[:8]}"
    if os.path.isdir(final):
        os.rename(final, old)
    os.rename(tmp, final)
    shutil.rmtree(old, ignore_errors=True)


def rebuild_sidecars(spark, path: str, n_buckets: int) -> None:
    """Re-derive `<path>_terms` and `<path>_consts` from the postings
    relation: df = docs per term, constants from the per-doc
    denormalized dl (first() per doc — every posting of a doc carries
    the same dl). Two COLUMN-PRUNED reads of the index, never a
    corpus re-tokenize. Also the crash-recovery path: postings are
    the only data of record, so rerunning this after a failed append
    or delete restores sidecar consistency exactly.

    `_terms` is VOCABULARY-sized (10⁸–10⁹ rows at 100 TB), so it is
    written partitioned by the SAME `_tb` term-hash as the postings —
    a multi-task write (one task per bucket, never a coalesce(1)
    straggler) that also lets queries prune the
    sidecar read to their terms' buckets. `_consts` stays the single
    row it is by construction."""
    p = spark.read.parquet(path)
    df_tbl = (
        p.groupBy("term")
        .agg(F.count("*").cast("bigint").alias("df"))
        .withColumn("_tb", F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
        .repartition(n_buckets, "_tb")
    )
    consts = (
        p.groupBy("doc_id")
        .agg(F.first("dl").alias("dl"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("dl").alias("sum_dl"),
            F.lit(n_buckets).alias("n_buckets"),
        )
        .coalesce(1)
    )
    _swap_sidecar(df_tbl, path, "_terms")
    _swap_sidecar(consts, path, "_consts")


def write_text_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    positions: bool = False,
) -> None:
    """Materialize the postings index: ONE tokenize pass writes the
    postings; the sidecars are then derived from the written index
    (column-pruned reads — the same discipline textstats.bm25_topk
    adopted after its round-7 four-scan plan review)."""
    spark = docs.sparkSession
    _postings(docs, text_col, id_col, positions, n_buckets).write.partitionBy(
        "_tb"
    ).mode("overwrite").parquet(path)
    rebuild_sidecars(spark, path, n_buckets)


def append_to_text_index(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Incrementally ingest NEW documents: their postings land as
    extra part-files inside the existing term-bucket partitions (same
    hash, same layout — the append_to_ivf_index shape), then the
    df/consts sidecars are rebuilt from the postings relation, so
    served scores are IDENTICAL to a full rebuild over the union and
    global statistics (idf, avgdl) can never go stale. A crash
    between the postings append and the rebuild leaves correct
    postings with stale sidecars — rerun `rebuild_sidecars` to
    recover (postings are the only data of record).

    CONTRACT: appended doc_ids must be NEW — a doc split across
    build and append would carry two partial (doc, term) postings
    and BM25 is nonlinear in tf. One tokenize pass over the new
    docs; the sidecar rebuild reads two columns of the index."""
    spark = new_docs.sparkSession
    consts = _consts(spark, path)
    nb = int(consts["n_buckets"])
    positional = "positions" in spark.read.parquet(path).columns
    _postings(new_docs, text_col, id_col, positional, nb).write.partitionBy(
        "_tb"
    ).mode("append").parquet(path)
    rebuild_sidecars(spark, path, nb)


def delete_from_text_index(
    spark,
    path: str,
    doc_ids,
    id_col: str = "doc_id",
) -> int:
    """Remove documents from the postings index WITHOUT a rebuild —
    the GDPR-removal path, and the qix9 ingest merge run in reverse:

    1. ONE column-pruned pass over the postings finds the deleted
       docs' rows: their term-hash buckets (the only partitions that
       need rewriting), their per-term df decrements (postings are
       unique per (doc, term), so the decrement is a plain count),
       and the consts decrements (n_docs, sum of their dl). These
       land in a temp parquet FIRST — they must be snapshotted before
       the rewrite mutates what the lazy plans would read.
    2. The touched buckets are rewritten survivors-only via a dynamic
       partition overwrite (untouched buckets' bytes are never read
       or written); buckets whose every posting died are removed —
       dynamic overwrite only replaces partitions it writes rows for.
    3. The sidecars update by EXACT integer merges: new_df =
       old_df - dec (terms reaching 0 drop out), n_docs/sum_dl
       subtract the snapshot — bit-identical to a from-scratch
       rebuild over the survivors, so stale global stats are a hash
       mismatch, never silent drift.

    A crash between 2 and 3 leaves correct postings with stale
    sidecars — `rebuild_sidecars` recovers, same contract as append.
    Cost tracks the touched buckets + the deleted docs' postings,
    never the corpus. Returns the number of indexed docs removed.
    `doc_ids` is a list or a single-column DataFrame; ids not in the
    index are ignored."""
    if isinstance(doc_ids, DataFrame):
        ids_df = doc_ids.select(F.col(doc_ids.columns[0]).alias("doc_id"))
    else:
        ids_df = spark.createDataFrame(
            [(i,) for i in doc_ids], f"doc_id {'string' if doc_ids and isinstance(doc_ids[0], str) else 'bigint'}"
        )
    consts_row = _consts(spark, path)
    nb = int(consts_row["n_buckets"])

    p = spark.read.parquet(path)
    dead = p.join(F.broadcast(ids_df), "doc_id", "left_semi")
    scratch = f"{path}.del-{uuid.uuid4().hex[:8]}"
    # snapshot decrements BEFORE the rewrite (lazy plans re-read paths)
    dead.groupBy("term").agg(
        F.count("*").cast("bigint").alias("dec")
    ).write.parquet(os.path.join(scratch, "dec"))
    dead.groupBy("doc_id").agg(F.first("dl").alias("dl")).agg(
        F.count("*").cast("bigint").alias("n_dead"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("dl_dead"),
    ).coalesce(1).write.parquet(os.path.join(scratch, "consts_dec"))

    try:
        cdec = spark.read.parquet(os.path.join(scratch, "consts_dec")).collect()[0]
        n_dead, dl_dead = int(cdec["n_dead"]), int(cdec["dl_dead"])
        if n_dead == 0:
            return 0
        buckets = [
            int(r[0])
            for r in dead.select("_tb").distinct().collect()
        ]
        survivors = p.filter(F.col("_tb").isin(buckets)).join(
            F.broadcast(ids_df), "doc_id", "left_anti"
        )
        # buckets whose EVERY posting died get nothing from the dynamic
        # overwrite (it only replaces partitions it writes rows for),
        # so their stale directories must be removed explicitly —
        # resolve the survivor bucket set BEFORE the overwrite mutates
        # what the lazy plan reads
        kept_buckets = {
            int(r[0]) for r in survivors.select("_tb").distinct().collect()
        }
        (
            survivors.write.partitionBy("_tb")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(path)
        )
        for b in buckets:
            if b not in kept_buckets:
                shutil.rmtree(
                    os.path.join(path, f"_tb={b}"), ignore_errors=True
                )
        # exact-integer sidecar merges (the qix9 merge in reverse)
        dec = spark.read.parquet(os.path.join(scratch, "dec"))
        terms_tbl = _sidecar(spark, path, "_terms").select("term", "df")
        new_terms = (
            terms_tbl.join(dec, "term", "left")
            .select(
                "term",
                (F.col("df") - F.coalesce("dec", F.lit(0)))
                .cast("bigint").alias("df"),
            )
            .filter(F.col("df") > 0)
            .withColumn("_tb", F.pmod(F.xxhash64("term"), F.lit(nb)))
            .repartition(nb, "_tb")
        )
        new_consts = spark.createDataFrame(
            [(
                int(consts_row["n_docs"]) - n_dead,
                int(consts_row["sum_dl"]) - dl_dead,
                nb,
            )],
            _SIDECARS["_consts"],
        ).coalesce(1)
        _swap_sidecar(new_terms, path, "_terms")
        _swap_sidecar(new_consts, path, "_consts")
        return n_dead
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def bm25_topk_indexed(
    spark,
    path: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Serve a BM25 query from the on-disk index → (doc_id, score),
    top_k best (score desc, id tiebreak) — same output contract and
    rounding discipline as textstats.bm25_topk, but reading only the
    query terms' hash buckets instead of the corpus."""
    terms = list(query_terms)
    consts = _consts(spark, path)
    n_docs = int(consts["n_docs"])
    if n_docs == 0:
        raise ValueError(
            f"text index at {path!r} is empty (n_docs=0); build it "
            "over a non-empty corpus before querying"
        )
    avgdl = float(consts["sum_dl"]) / n_docs
    nb = int(consts["n_buckets"])
    buckets = _term_buckets(spark, terms, nb)
    p = spark.read.parquet(path).filter(
        F.col("_tb").isin(buckets) & F.col("term").isin(terms)
    )
    # the _terms sidecar is partitioned by the same _tb hash, so the
    # vocabulary-sized df lookup prunes to the query terms' buckets too
    dfreq = _sidecar(spark, path, "_terms").filter(
        F.col("_tb").isin(buckets) & F.col("term").isin(terms)
    ).select("term", "df")
    j = p.join(F.broadcast(dfreq), "term")
    idf = F.log(
        (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
    )
    contrib = F.round(idf * norm, 6)
    return (
        j.groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(top_k)
    )


def phrase_docs_indexed(
    spark,
    path: str,
    phrase_terms: list[str],
) -> DataFrame:
    """Exact-phrase matching served from a POSITIONAL index (built
    with positions=True) → the doc_ids containing the consecutive
    phrase. Reads only the phrase terms' hash buckets (same pruning
    as bm25_topk_indexed); the phrase check is the classic positional
    intersection — fold over terms keeping the candidate END
    positions: cand_{i+1} = (cand_i + 1) ∩ positions(term_{i+1}) —
    all JVM array functions, candidate-doc sized after the first
    join, no text rescan."""
    terms = list(phrase_terms)
    if len(terms) < 2:
        raise ValueError("phrase needs >= 2 terms")
    consts = _consts(spark, path)
    nb = int(consts["n_buckets"])
    p = spark.read.parquet(path).filter(
        F.col("_tb").isin(_term_buckets(spark, terms, nb))
        & F.col("term").isin(terms)
    )
    if "positions" not in p.columns:
        raise ValueError(
            "phrase_docs_indexed needs a POSITIONAL index — rebuild "
            "with write_text_index(..., positions=True)"
        )
    cur = p.filter(F.col("term") == terms[0]).select(
        "doc_id", F.col("positions").alias("_cand")
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = p.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(f"_p{i}")
        )
        cur = (
            cur.join(nxt, "doc_id")
            .withColumn(
                "_cand",
                F.array_intersect(
                    F.transform("_cand", lambda x: x + 1),
                    F.col(f"_p{i}"),
                ),
            )
            .filter(F.size("_cand") > 0)
            .select("doc_id", "_cand")
        )
    return cur.select("doc_id").orderBy("doc_id")


def kwic_snippets_indexed(
    spark,
    path: str,
    docs: DataFrame,
    term: str,
    window: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keyword-in-context SNIPPETS served from the positional index:
    (doc_id, first_pos, snippet) for every document containing `term`,
    where snippet = the ±`window` tokens around the FIRST occurrence —
    the result-rendering step of a search stack (Lucene's highlighter
    shape, restricted to the deterministic first-occurrence window).

    The index supplies WHERE to look — matching doc_ids and the exact
    token position, from one pruned bucket read — and only those
    documents' stored text is fetched (broadcast semi-shaped join
    against the corpus: at 100 TB the text scan is hit-bounded, the
    classic retrieve-then-render split). The text re-split is one
    map-side op on hit rows; positions are 0-based (posexplode's
    convention, same as phrase_docs_indexed)."""
    consts = _consts(spark, path)
    nb = int(consts["n_buckets"])
    p = spark.read.parquet(path).filter(
        F.col("_tb").isin(_term_buckets(spark, [term], nb))
        & (F.col("term") == term)
    )
    if "positions" not in p.columns:
        raise ValueError(
            "kwic_snippets_indexed needs a POSITIONAL index — rebuild "
            "with write_text_index(..., positions=True)"
        )
    hits = p.select(
        "doc_id", F.array_min("positions").alias("first_pos")
    )
    j = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")
    ).join(F.broadcast(hits), "doc_id")
    w = F.split(F.col("_text"), " ")
    start0 = F.greatest(F.col("first_pos") - window, F.lit(0))
    length = F.col("first_pos") - start0 + window + 1
    return (
        j.select(
            "doc_id",
            F.col("first_pos").cast("int").alias("first_pos"),
            F.concat_ws(
                " ", F.slice(w, start0 + 1, length)
            ).alias("snippet"),
        )
        .orderBy("doc_id")
    )
