"""Declared queries: LLM-data-pipeline family (SURVEY §2.11) plus the
training-data extensions — dedup variants (MinHash candidates, SimHash,
n-gram Jaccard, embedding near-dup), kNN join, TF-IDF, corpus stats,
text analysis (language-ID, quality, token counts, fingerprints), and
multimodal binary columns. Q-L1/L3/L5 live in bench_core.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sora_spark.catalog import tables
from sora_spark.functions.text import minhash_one, word_shingles
from sora_spark.llm import (
    ann, dedup, hybrid, multimodal, textindex, textstats,
)
from sora_spark.queries.registry import query
from sora_spark.scratch import fresh_dir

# Shared oracle CTE: doc word-3-gram shingles + 1-perm minhash signature
# (the exact Q-L2 spec: DuckDB range() is empty for docs under 3 words,
# matching the strict word_shingles()).
_SHINGLE_SQL = """
w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh0 AS (SELECT doc_id, unnest(range(1, greatest(len(w) - 1, 1))) AS i, w FROM w),
shingle_all AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh FROM sh0),
shingle AS (SELECT DISTINCT doc_id, sh FROM shingle_all),
sig AS (SELECT doc_id, min(md5(sh)) AS sig FROM shingle_all GROUP BY doc_id),
cand AS (SELECT a.doc_id AS a, b.doc_id AS b
         FROM sig a JOIN sig b ON a.sig = b.sig AND a.doc_id < b.doc_id)
"""


def _minhash_pairs(docs):
    """1-band MinHash candidates, the Q-L2 spec (min md5 over word
    3-gram shingles; docs sharing the signature pair up, a < b)."""
    # explode-first signature (same min-md5 value as
    # minhash_one(word_shingles(...)) — the array-lambda form runs
    # interpreted, the B12 finding); shingle-less docs simply emit no
    # signature, which matches the old NULL-sig rows never joining
    sig = dedup.exploded_shingles(docs).groupBy("id").agg(
        F.min(F.md5("sh")).alias("sig")
    ).withColumnRenamed("id", "doc_id")
    a = sig.select(F.col("doc_id").alias("a"), F.col("sig").alias("sig_a"))
    b = sig.select(F.col("doc_id").alias("b"), F.col("sig").alias("sig_b"))
    return a.join(
        b, (F.col("sig_a") == F.col("sig_b")) & (F.col("a") < F.col("b"))
    ).select("a", "b")


@query(
    "ql2_minhash_candidates",
    oracle=f"""
WITH {_SHINGLE_SQL}
SELECT a, b FROM cand ORDER BY a, b LIMIT 100
""",
    doc="Q-L2: near-dup candidate pairs via 1-band MinHash (shingle → "
    "min-md5 signature → bucket self-join).",
    tags=("llm", "dedup"),
)
def ql2_minhash_candidates(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return _minhash_pairs(docs).orderBy("a", "b").limit(100)


@query(
    "ql4_knn_join",
    oracle="""
WITH s AS (
  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(p.embedding AS DOUBLE[])), 5) AS sim
  FROM embeddings p, embeddings e
  WHERE p.vec_id < 20 AND e.vec_id <> p.vec_id),
r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM s)
SELECT probe_id, CAST(rn AS INT) AS rn, neighbor_id, sim
FROM r WHERE rn <= 3 ORDER BY probe_id, rn
""",
    doc="Q-L4: batch kNN join — top-3 cosine neighbors for each probe "
    "vec_id < 20 (broadcast probes; ranks on ROUNDED sim, id tiebreak).",
    tags=("llm", "vector"),
)
def ql4_knn_join(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    probes = emb.filter(F.col("vec_id") < 20)
    return ann.brute_force_topk(emb, probes, k=3).orderBy("probe_id", "rn")


@query(
    "ql4b_knn_join_shuffle",
    oracle="""
WITH s AS (
  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(p.embedding AS DOUBLE[])), 5) AS sim
  FROM embeddings p, embeddings e
  WHERE p.vec_id < 20 AND e.vec_id <> p.vec_id),
r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM s)
SELECT probe_id, CAST(rn AS INT) AS rn, neighbor_id, sim
FROM r WHERE rn <= 3 ORDER BY probe_id, rn
""",
    doc="Q-L4 beyond broadcast: the SAME exact-kNN contract as ql4 but "
    "computed by the two-sided-shuffle path (ann.brute_force_topk_"
    "shuffle) — corpus hash-blocked, probes replicated per block, "
    "equi-join on the block key, per-block partial top-k before the "
    "global merge. Hash-gates the cluster-scale probe-set shape that "
    "was previously only unit-matched against the broadcast path.",
    tags=("llm", "vector"),
)
def ql4b_knn_join_shuffle(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    probes = emb.filter(F.col("vec_id") < 20)
    return ann.brute_force_topk_shuffle(emb, probes, k=3, n_blocks=8).orderBy(
        "probe_id", "rn"
    )


@query(
    "ql6_tfidf",
    oracle="""
WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT source, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT source) AS n_groups FROM documents),
scored AS (
  SELECT tf.source, tf.term,
         round(tf.tf * ln(n.n_groups * 1.0 / dfreq.df), 6) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY score DESC, term) AS rn
      FROM scored)
SELECT source, CAST(rn AS INT) AS rn, term, score
FROM r WHERE rn <= 5 AND source IN ('src0','src1','src2','src3','src4')
ORDER BY source, rn
""",
    doc="Q-L6: TF-IDF top-5 terms per source (df over all sources, "
    "output filtered to src0..src4).",
    tags=("llm", "text"),
)
def ql6_tfidf(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    scored = textstats.tfidf_top_terms(docs, top_k=5)
    return (
        scored.filter(
            F.col("source").isin("src0", "src1", "src2", "src3", "src4")
        )
        .select("source", "rn", "term", "score")
        .orderBy("source", "rn")
    )


@query(
    "ql7_corpus_stats",
    oracle="""
SELECT lang, source, count(*) AS n,
       count(CASE WHEN n_chars = length(text) THEN 1 END) AS n_len_match
FROM documents GROUP BY lang, source ORDER BY lang, source
""",
    doc="Q-L7: corpus stats — counts per lang × source + metadata "
    "consistency check (n_chars vs length(text)).",
    tags=("llm", "text"),
)
def ql7_corpus_stats(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n"),
            F.count(
                F.when(F.col("n_chars") == F.length("text"), 1)
            ).alias("n_len_match"),
        )
        .orderBy("lang", "source")
    )


@query(
    "ql8_embedding_class_stats",
    oracle="""
SELECT label, count(*) AS n,
       round(avg(list_sum(CAST(embedding AS DOUBLE[]))), 5) AS avg_vec_sum
FROM embeddings GROUP BY label ORDER BY label
""",
    doc="Q-L8: per-label embedding stats via higher-order array sums.",
    tags=("llm", "vector"),
)
def ql8_embedding_class_stats(spark, sf_dir):
    from sora_spark.functions import vector

    emb = tables(spark, sf_dir).embeddings
    return (
        emb.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(vector.vec_sum(F.col("embedding"))), 5).alias(
                "avg_vec_sum"
            ),
        )
        .orderBy("label")
    )


@query(
    "qd1_simhash",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (SELECT doc_id, md5(tok) AS h FROM tok),
nib AS (SELECT doc_id, h, unnest(range(1, 9)) AS p FROM h),
dig AS (SELECT doc_id, p,
               strpos('0123456789abcdef', substr(h, CAST(p AS INT), 1)) - 1 AS digit
        FROM nib),
bits AS (SELECT doc_id, p, digit, unnest(range(0, 4)) AS b FROM dig),
s AS (SELECT doc_id, p, b,
             sum(CASE WHEN (digit >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM bits GROUP BY 1, 2, 3),
hexd AS (SELECT doc_id, p,
                sum(CASE WHEN s > 0 THEN 1 << b ELSE 0 END) AS hd
         FROM s GROUP BY 1, 2)
SELECT doc_id,
       string_agg(substr('0123456789abcdef', CAST(hd + 1 AS INT), 1),
                  '' ORDER BY p) AS simhash
FROM hexd GROUP BY doc_id ORDER BY doc_id LIMIT 200
""",
    doc="qd1: portable 32-bit SimHash — md5-nibble bit votes per token, "
    "sign-aggregated into a hex fingerprint. The fast engine path "
    "(xxhash64, 64-bit) is llm.dedup.simhash_fast (engine-internal).",
    tags=("llm", "dedup"),
)
def qd1_simhash(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).select("doc_id", F.md5("tok").alias("h"))
    nib = tok.select(
        "doc_id", "h", F.explode(F.sequence(F.lit(1), F.lit(8))).alias("p")
    ).withColumn(
        "digit",
        F.expr("instr('0123456789abcdef', substring(h, p, 1))").cast("int") - 1,
    )
    bits = nib.select(
        "doc_id",
        "p",
        "digit",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("b"),
    ).withColumn(
        "contrib",
        F.when(
            F.expr("(digit div CAST(pow(2, b) AS INT)) % 2") == 1, 1
        ).otherwise(-1),
    )
    s = bits.groupBy("doc_id", "p", "b").agg(F.sum("contrib").alias("s"))
    hexd = s.groupBy("doc_id", "p").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("CAST(pow(2, b) AS INT)")).otherwise(0)
        ).alias("hd")
    ).withColumn("c", F.expr("substring('0123456789abcdef', CAST(hd + 1 AS INT), 1)"))
    return (
        hexd.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "c"))),
                    lambda x: x["c"],
                ),
                "",
            ).alias("simhash")
        )
        .orderBy("doc_id")
        .limit(200)
    )


@query(
    "qd2_ngram_jaccard",
    oracle=f"""
WITH {_SHINGLE_SQL},
sizes AS (SELECT doc_id, count(*) AS n FROM shingle GROUP BY doc_id),
inter AS (SELECT p.a, p.b, count(*) AS ni
          FROM cand p
          JOIN shingle sa ON sa.doc_id = p.a
          JOIN shingle sb ON sb.doc_id = p.b AND sa.sh = sb.sh
          GROUP BY 1, 2)
SELECT p.a AS a, p.b AS b,
       round(coalesce(i.ni, 0) * 1.0
             / (na.n + nb.n - coalesce(i.ni, 0)), 5) AS jaccard
FROM cand p
LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
JOIN sizes na ON na.doc_id = p.a
JOIN sizes nb ON nb.doc_id = p.b
ORDER BY p.a, p.b LIMIT 100
""",
    doc="qd2: exact word-3-gram Jaccard over the MinHash candidate "
    "pairs (LSH prefilter keeps the shingle join tractable at scale).",
    tags=("llm", "dedup"),
)
def qd2_ngram_jaccard(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    pairs = _minhash_pairs(docs)
    j = dedup.jaccard_over_pairs(pairs, docs, shingle_n=3)
    return (
        j.select("a", "b", F.round("jaccard", 5).alias("jaccard"))
        .orderBy("a", "b")
        .limit(100)
    )


@query(
    "qd3_embedding_neardup",
    oracle="""
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 5) AS sim
FROM embeddings a, embeddings b
WHERE a.vec_id < b.vec_id AND a.vec_id < 150 AND b.vec_id < 150
  AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 5) >= 0.3
ORDER BY a, b
""",
    doc="qd3: embedding-cosine near-dup pairs (sim ≥ 0.3, blocked to "
    "vec_id < 150 for the oracle; LSH bucketing is the scale path).",
    tags=("llm", "dedup", "vector"),
)
def qd3_embedding_neardup(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    return (
        ann.near_duplicate_pairs(emb, threshold=0.3, id_bound=150)
        .orderBy("a", "b")
    )


def _plane_lit(p):
    return "[" + ", ".join(repr(x) for x in p) + "]"


def _band_bucket_sql(planes) -> str:
    """Sign-pattern bucket key as DuckDB SQL — the single source for
    every sign-LSH oracle (qd3b single-band, qd3c multi-band)."""
    return " || ".join(
        f"(CASE WHEN list_dot_product(v, {_plane_lit(p)}) >= 0"
        " THEN '1' ELSE '0' END)"
        for p in planes
    )


_QD3B_PLANES = ann._hyperplanes(64, 6, 7)
_QD3B_BUCKET = _band_bucket_sql(_QD3B_PLANES)


@query(
    "qd3b_embedding_neardup_lsh",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bk AS (SELECT vec_id, v, {_QD3B_BUCKET} AS bucket FROM e)
SELECT x.vec_id AS a, y.vec_id AS b,
       round(list_cosine_similarity(x.v, y.v), 5) AS sim
FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
WHERE round(list_cosine_similarity(x.v, y.v), 5) >= 0.3
ORDER BY a, b
""",
    doc="qd3b: embedding near-dup, SCALE path — sign-LSH bucket as the "
    "equi-join key (64 buckets from 6 fixed hyperplanes), cosine "
    "threshold inside buckets, NO blocking bound. Replaces qd3's "
    "all-pairs form at scale; the oracle recomputes the identical "
    "buckets from the same literal hyperplanes. Plan pinned "
    "equi-join-only in tests/test_plans.py.",
    tags=("llm", "dedup", "vector", "scale"),
)
def qd3b_embedding_neardup_lsh(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    return (
        ann.near_duplicate_pairs_lsh(emb, threshold=0.3, dim=64, n_planes=6)
        .orderBy("a", "b")
    )


_QD3C_BANDS = [ann._hyperplanes(64, 4, 7 + i) for i in range(2)]
_QD3C_B0 = _band_bucket_sql(_QD3C_BANDS[0])
_QD3C_B1 = _band_bucket_sql(_QD3C_BANDS[1])


@query(
    "qd3c_embedding_neardup_multiband",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bk AS (SELECT vec_id, v, {_QD3C_B0} AS b0, {_QD3C_B1} AS b1 FROM e),
cand AS (
  SELECT x.vec_id AS a, y.vec_id AS b, x.v AS va, y.v AS vb
  FROM bk x JOIN bk y ON x.b0 = y.b0 AND x.vec_id < y.vec_id
  UNION
  SELECT x.vec_id AS a, y.vec_id AS b, x.v AS va, y.v AS vb
  FROM bk x JOIN bk y ON x.b1 = y.b1 AND x.vec_id < y.vec_id)
SELECT DISTINCT a, b, round(list_cosine_similarity(va, vb), 5) AS sim
FROM cand
WHERE round(list_cosine_similarity(va, vb), 5) >= 0.3
ORDER BY a, b
""",
    doc="qd3c: multi-band sign-LSH near-dup (2 bands of 4 planes, "
    "seeds 7 and 8) — banding amplification 1-(1-p^4)^2 under full "
    "oracle check; the oracle recomputes both bands from the same "
    "literal hyperplanes and unions candidates exactly like the "
    "(band, bucket) equi-join. Recall curve in SCALE.md §recall.",
    tags=("llm", "dedup", "vector", "scale"),
)
def qd3c_embedding_neardup_multiband(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    return (
        ann.near_duplicate_pairs_lsh(
            emb, threshold=0.3, dim=64, n_planes=4, n_bands=2
        )
        .orderBy("a", "b")
    )


_LEX_VALUES = ", ".join(
    f"('{tok}', '{lang}')" for tok, lang in textstats.STOPWORDS
)


@query(
    "qta1_language_id",
    oracle=f"""
WITH lex(tok, lang_cand) AS (VALUES {_LEX_VALUES}),
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
hits AS (SELECT doc_id, lang_cand, count(*) AS n_hits
         FROM tok JOIN lex USING (tok) GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY n_hits DESC, lang_cand) AS rn
      FROM hits)
SELECT doc_id, lang_cand AS pred_lang, n_hits
FROM r WHERE rn = 1 ORDER BY doc_id
""",
    doc="qta1: language-ID heuristic — argmax stopword hits per doc "
    "over a fixed 25-word lexicon shared by both engines.",
    tags=("llm", "text-analysis"),
)
def qta1_language_id(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return textstats.language_id(docs, spark).orderBy("doc_id")


@query(
    "qta2_quality_score",
    oracle="""
WITH f AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tok,
         round((length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
               / len(string_split(text, ' ')), 4) AS avg_r,
         round(len(list_filter(string_split(text, ' '),
               x -> list_contains(['the','and','of','to','in'], x))) * 1.0
               / len(string_split(text, ' ')), 4) AS stop_r
  FROM documents)
SELECT doc_id, CAST(n_tok AS INT) AS n_tokens,
       avg_r AS avg_token_len,
       stop_r AS stop_ratio,
       round(0.4 * least(n_tok / 100.0, 1.0)
             + 0.3 * (1 - least(abs(avg_r - 5) / 5.0, 1.0))
             + 0.3 * stop_r, 6) AS quality_score
FROM f ORDER BY doc_id
""",
    doc="qta2: quality features — token count, mean token length, "
    "stopword ratio, blended score.",
    tags=("llm", "text-analysis"),
)
def qta2_quality_score(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return textstats.quality_features(docs).orderBy("doc_id")


@query(
    "qta3_token_count",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS INT) AS n_alpha,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+')) AS INT)
         AS n_bpe_ish
FROM documents ORDER BY doc_id
""",
    doc="qta3: token counting — whitespace tokens vs regex token "
    "classes (BPE-ish splitter, POSIX-safe pattern).",
    tags=("llm", "text-analysis"),
)
def qta3_token_count(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return (
        docs.select(
            "doc_id",
            F.size(F.split("text", " ")).alias("n_ws"),
            F.regexp_count("text", F.lit("[a-z]+")).alias("n_alpha"),
            F.regexp_count("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]+")).alias(
                "n_bpe_ish"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "qta4_fingerprint",
    oracle="""
WITH g AS (
  SELECT doc_id, unnest(range(1, greatest(length(text) - 2, 1))) AS i, text
  FROM documents)
SELECT doc_id, min(md5(substr(text, CAST(i AS INT), 4))) AS fingerprint
FROM g GROUP BY doc_id ORDER BY doc_id
""",
    doc="qta4: document fingerprint — min md5 over rolling char "
    "4-grams (winnowing-style deterministic core).",
    tags=("llm", "text-analysis"),
)
def qta4_fingerprint(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return textstats.fingerprint(docs, k=4).orderBy("doc_id")


@query(
    "qm1_multimodal_binary",
    oracle="""
SELECT doc_id,
       'text/plain' AS mime,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       md5(text) AS checksum,
       decode(encode(text)) = text AS decoded_ok
FROM documents ORDER BY doc_id
""",
    doc="qm1: multimodal binary columns — payload encode + typed "
    "metadata struct + lossless decode roundtrip (the decode/feature "
    "stage itself is the mapInPandas stub in llm.multimodal).",
    tags=("llm", "multimodal"),
)
def qm1_multimodal_binary(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    with_payload = multimodal.attach_payload(docs, "text", "text/plain")
    return (
        with_payload.select(
            "doc_id",
            F.col("media_meta.mime").alias("mime"),
            F.col("media_meta.n_bytes").alias("n_bytes"),
            F.col("media_meta.checksum").alias("checksum"),
            (F.decode(F.col("payload"), "UTF-8") == F.col("text")).alias(
                "decoded_ok"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "qta5_repetition_stats",
    oracle="""
WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
base AS (SELECT doc_id, source, len(ws) AS n_words,
                1.0 - len(list_distinct(ws)) * 1.0 / len(ws) AS dupw,
                CASE WHEN len(ws) >= 2 THEN
                  1.0 - len(list_distinct(list_transform(range(1, len(ws)),
                        i -> ws[i] || ' ' || ws[i+1]))) * 1.0 / (len(ws) - 1)
                ELSE 0.0 END AS dupb
         FROM w),
tok AS (SELECT doc_id, unnest(ws) AS word FROM w),
top AS (SELECT doc_id, max(c) AS top_c FROM
        (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY 1, 2)
        GROUP BY 1)
SELECT b.doc_id, CAST(b.n_words AS INT) AS n_words,
       round(dupw, 4) AS dup_word_frac,
       round(top_c * 1.0 / b.n_words, 4) AS top_word_frac,
       round(dupb, 4) AS dup_bigram_frac
FROM base b JOIN top USING (doc_id) ORDER BY b.doc_id
""",
    doc="qta5: Gopher-style within-document repetition features — "
    "duplicate-word fraction, most-frequent-word coverage, duplicate-"
    "bigram fraction — the standard templated/keyword-stuffed document "
    "filters for training-data curation. Array expressions + one "
    "wordcount-shaped explode/groupBy; scales like any aggregation.",
    tags=("llm", "text-analysis", "quality"),
)
def qta5_repetition_stats(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    r = textstats.repetition_stats(docs)
    return (
        r.select(
            "doc_id",
            "n_words",
            F.round("dup_word_frac", 4).alias("dup_word_frac"),
            F.round("top_word_frac", 4).alias("top_word_frac"),
            F.round("dup_bigram_frac", 4).alias("dup_bigram_frac"),
        )
        .orderBy("doc_id")
    )


@query(
    "qpii1_scrub",
    oracle="""
WITH s AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
             '<EMAIL>', 'g'),
           '[+]?[0-9][0-9 ()+.-]{6,}[0-9]', '<NUM>', 'g') AS scrubbed,
         len(regexp_extract_all(text, 'https?://[^\\s]+'))
         + len(regexp_extract_all(
             regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
         + len(regexp_extract_all(
             regexp_replace(
               regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g'),
             '[+]?[0-9][0-9 ()+.-]{6,}[0-9]')) AS n_scrubbed
  FROM documents)
SELECT doc_id, md5(scrubbed) AS scrubbed_md5,
       CAST(n_scrubbed AS INT) AS n_scrubbed
FROM s ORDER BY doc_id
""",
    doc="qpii1: PII scrub — URL -> email -> digit-run replacement in "
    "that order (each count runs on the PREVIOUS stage's output, so "
    "an email inside a URL is never double-counted). Patterns are "
    "RE2-safe; DuckDB needs the 'g' flag Spark implies. Output is "
    "md5(scrubbed) + replacement count per doc.",
    tags=("llm", "pii", "text-analysis"),
)
def qpii1_scrub(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    s = textstats.scrub_pii(docs)
    return s.select(
        "doc_id",
        F.md5("text_scrubbed").alias("scrubbed_md5"),
        "n_scrubbed",
    ).orderBy("doc_id")


@query(
    "qm2_frame_sampling",
    oracle="""
WITH f AS (
  SELECT doc_id, octet_length(encode(text)) AS n,
         hex(encode(text)) AS h
  FROM documents),
o AS (
  SELECT doc_id, h, unnest(range(1, n - 16 + 2, 32)) AS off
  FROM f WHERE n >= 16)
SELECT doc_id, CAST((off - 1) // 32 AS INT) AS frame_idx,
       md5(substr(h, (off - 1) * 2 + 1, 32)) AS frame_md5
FROM o ORDER BY doc_id, frame_idx
""",
    doc="qm2: multimodal frame sampling — every 32 bytes, slice a "
    "16-byte frame out of the binary payload (sequence + posexplode + "
    "binary substring, pure JVM, no Python, no shuffle); frames are "
    "compared as md5(hex(frame)) because byte slicing must agree on "
    "BYTE offsets even for multi-byte UTF-8 docs (DuckDB has no BLOB "
    "substring, but hex strings make the slice byte-exact on both "
    "engines).",
    tags=("llm", "multimodal"),
)
def qm2_frame_sampling(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    mm = multimodal.attach_payload(docs, "text", "text/plain")
    frames = multimodal.sample_frames(mm, frame_bytes=16, stride=32)
    return (
        frames.select(
            "doc_id",
            "frame_idx",
            F.md5(F.hex("frame")).alias("frame_md5"),
        )
        .orderBy("doc_id", "frame_idx")
    )


@query(
    "qcont1_ngram_contamination",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh0 AS (SELECT doc_id, unnest(range(1, greatest(len(w) - 3, 1))) AS i, w
        FROM w),
grams AS (SELECT DISTINCT doc_id,
                 w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                      || w[i+3] || ' ' || w[i+4] AS sh
          FROM sh0),
ev AS (SELECT DISTINCT sh FROM grams WHERE doc_id % 50 = 0),
tr AS (SELECT doc_id, sh FROM grams WHERE doc_id % 50 <> 0)
SELECT tr.doc_id AS train_id, count(*) AS n_shared
FROM tr JOIN ev USING (sh)
GROUP BY tr.doc_id
ORDER BY n_shared DESC, train_id LIMIT 100
""",
    doc="qcont1: benchmark decontamination — per train doc (doc_id % "
    "50 != 0) the number of distinct word 5-grams shared with the "
    "eval slice (doc_id % 50 = 0), top-100 by overlap. Shape: distinct "
    "(doc, gram) explode both sides, gram-key semi-join with the tiny "
    "eval side broadcast — the train corpus never shuffles, never "
    "all-pairs (llm.dedup.ngram_contamination).",
    tags=("llm", "dedup", "contamination"),
)
def qcont1_ngram_contamination(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    tr = docs.filter(F.col("doc_id") % 50 != 0)
    return (
        dedup.ngram_contamination(tr, ev, n=5)
        .orderBy(F.desc("n_shared"), "train_id")
        .limit(100)
    )


@query(
    "qta6_unigram_logprob",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
             FROM documents),
freq AS (SELECT t, count(*) AS tf FROM tok GROUP BY t),
total AS (SELECT CAST(sum(tf) AS DOUBLE) AS n FROM freq)
SELECT tok.doc_id, count(*) AS n_tokens,
       round(avg(ln(freq.tf / total.n)), 6) AS mean_logprob
FROM tok JOIN freq USING (t) CROSS JOIN total
GROUP BY tok.doc_id
ORDER BY tok.doc_id LIMIT 200
""",
    doc="qta6: mean log unigram probability per doc — the cheap "
    "perplexity proxy for quality filtering (rare-token soup scores "
    "low). Wordcount-shaped frequency pass + one token->frequency "
    "join; the corpus total rides as a broadcast 1-row aggregate "
    "(llm.textstats.unigram_logprob). round(,6) absorbs cross-engine "
    "float-summation order.",
    tags=("llm", "text", "quality"),
)
def qta6_unigram_logprob(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return (
        textstats.unigram_logprob(docs)
        .orderBy("doc_id")
        .limit(200)
    )


_COV_DIMS = 6


@query(
    "ql9_embedding_covariance",
    oracle="SELECT "
    + ", ".join(
        f"round(covar_pop(CAST(embedding[{i + 1}] AS DOUBLE), "
        f"CAST(embedding[{j + 1}] AS DOUBLE)), 6) AS c{i}_{j}"
        for i in range(_COV_DIMS)
        for j in range(i, _COV_DIMS)
    )
    + " FROM embeddings",
    doc=f"Q-L9: embedding covariance (upper triangle, first {_COV_DIMS} "
    "dims) — the PCA/whitening precursor for embedding-space analytics. "
    "ONE aggregation pass: every covar_pop combines map-side "
    "(partial -> exchange -> final), so the shuffle carries a handful "
    "of moment tuples regardless of corpus size; the driver-side "
    "eigendecomposition this feeds is dim x dim, independent of row "
    "count. round(,6) absorbs float-summation order.",
    tags=("llm", "vector", "stats"),
)
def ql9_embedding_covariance(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    e = F.col("embedding")
    return emb.agg(
        *[
            F.round(
                F.covar_pop(
                    F.element_at(e, i + 1).cast("double"),
                    F.element_at(e, j + 1).cast("double"),
                ),
                6,
            ).alias(f"c{i}_{j}")
            for i in range(_COV_DIMS)
            for j in range(i, _COV_DIMS)
        ]
    )


@query(
    "qta7_boilerplate_spans",
    oracle="""
WITH w AS (SELECT source, doc_id, string_split(text, ' ') AS w FROM documents),
sh0 AS (SELECT source, doc_id, unnest(range(1, greatest(len(w), 1))) AS i, w
        FROM w),
g AS (SELECT source, doc_id, w[i] || ' ' || w[i+1] AS sh FROM sh0),
dg AS (SELECT DISTINCT source, doc_id, sh FROM g),
bp AS (SELECT source, sh FROM (
         SELECT source, sh, count(*) AS n_docs FROM dg GROUP BY source, sh)
       WHERE n_docs >= 3),
tot AS (SELECT source, doc_id, count(*) AS n_grams FROM g
        GROUP BY source, doc_id),
hit AS (SELECT g.source, g.doc_id, count(*) AS n_bp
        FROM g JOIN bp ON g.source = bp.source AND g.sh = bp.sh
        GROUP BY g.source, g.doc_id),
per_doc AS (SELECT t.source, t.doc_id, t.n_grams,
                   COALESCE(h.n_bp, 0) AS n_bp
            FROM tot t LEFT JOIN hit h
              ON t.source = h.source AND t.doc_id = h.doc_id),
bps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_bp_grams
        FROM bp GROUP BY source)
SELECT p.source, b.n_bp_grams,
       round(avg(p.n_bp * 1.0 / p.n_grams), 6) AS avg_bp_frac,
       CAST(count(*) AS BIGINT) AS n_docs
FROM per_doc p JOIN bps b ON p.source = b.source
GROUP BY p.source, b.n_bp_grams
ORDER BY p.source
""",
    doc="qta7: repeated-span (boilerplate) detection — word bigrams "
    "present in >= 3 distinct docs of the same source are boilerplate "
    "(the C4/RefinedWeb template-hygiene pass); per-source report of "
    "boilerplate vocabulary size and average per-doc boilerplate "
    "fraction (llm.textstats.boilerplate_grams/boilerplate_stats). "
    "Scale shape: one wordcount-style distinct-gram aggregation; the "
    "bounded boilerplate set broadcasts back into the occurrence "
    "stream map-side.",
    tags=("llm", "text", "quality"),
)
def qta7_boilerplate_spans(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return textstats.boilerplate_stats(docs, n=2, min_docs=3).orderBy(
        "source"
    )


@query(
    "qd6_simhash_hamming",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (SELECT doc_id, md5(tok) AS h FROM tok),
nib AS (SELECT doc_id, h, unnest(range(1, 9)) AS p FROM h),
dig AS (SELECT doc_id, p,
               strpos('0123456789abcdef', substr(h, CAST(p AS INT), 1)) - 1 AS digit
        FROM nib),
bits AS (SELECT doc_id, p, digit, unnest(range(0, 4)) AS b FROM dig),
s AS (SELECT doc_id, p, b,
             sum(CASE WHEN (digit >> b) & 1 = 1 THEN 1 ELSE -1 END) AS sv
      FROM bits GROUP BY 1, 2, 3),
hexd AS (SELECT doc_id, p,
                CAST(sum(CASE WHEN sv > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS hd
         FROM s GROUP BY 1, 2),
sh AS (SELECT doc_id, CAST(sum(hd << (4*(8-p))) AS BIGINT) AS sh
       FROM hexd GROUP BY doc_id)
SELECT a.doc_id AS a, b.doc_id AS b,
       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
ORDER BY a, b
""",
    doc="qd6: SimHash Hamming near-dup JOIN with guaranteed recall — "
    "the 32-bit portable fingerprint (qd1's bit votes) banded into 4x8 "
    "bits; pairs sharing any band slice are candidates, and by "
    "pigeonhole every pair within Hamming distance 3 < 4 bands IS a "
    "candidate, so the bit_count(xor)<=3 verify equals the all-pairs "
    "answer. The ORACLE is the brute-force all-pairs form — the hash "
    "gate therefore certifies the banding's recall, not just the "
    "Hamming arithmetic (qd3's recall-oracle pattern). Scale: "
    "equi-join on (band, slice) buckets, never |D|^2; completes the "
    "dedup family (exact / MinHash-Jaccard / embedding-cosine / "
    "SimHash-Hamming).",
    tags=("llm", "dedup", "simhash"),
)
def qd6_simhash_hamming(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return dedup.simhash_hamming_pairs(
        docs, max_hamming=3, n_bands=4
    ).orderBy("a", "b")


@query(
    "qvq1_int8_quantization",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM e),
q AS (SELECT vec_id, v, scale,
             CASE WHEN scale = 0
                  THEN list_transform(v, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(v, x -> CAST(floor(x/scale + 0.5) AS BIGINT))
             END AS qv
      FROM s),
m AS (SELECT vec_id, scale, qv,
             list_sum(list_transform(range(1, len(v)+1),
                      i -> (v[i] - qv[i]*scale) * (v[i] - qv[i]*scale)))
               / len(v) AS mse
      FROM q)
SELECT vec_id,
       CAST(list_sum(qv) AS BIGINT) AS sum_q,
       CAST(list_max(qv) AS BIGINT) AS max_q,
       round(scale, 6) AS scale_r,
       round(mse, 9) AS mse_r
FROM m ORDER BY vec_id
""",
    doc="qvq1: symmetric per-vector int8 scalar quantization of the "
    "embedding column + reconstruction-error accounting — the 4x "
    "memory cut a 100 TB similarity-search pipeline takes before its "
    "first-pass scan (exact re-scoring only on survivors; recall "
    "floor pinned in tests/test_llm.py). All JVM-side higher-order "
    "functions, map-only (zero shuffles before the final sort). "
    "Cross-engine determinism: quantize via floor(x/scale + 0.5) — "
    "the same double expression on both engines — never round() "
    "(rounding-mode trap); sum_q/max_q are exact integers, scale/mse "
    "rounded per protocol.",
    tags=("llm", "vector", "quantization"),
)
def qvq1_int8_quantization(spark, sf_dir):
    from sora_spark.functions import vector

    emb = tables(spark, sf_dir).embeddings
    v = F.col("embedding")
    scale = vector.int8_scale(v)
    with_q = emb.select(
        "vec_id",
        v.alias("embedding"),
        scale.alias("scale"),
        vector.quantize_int8(v, scale).alias("qv"),
    )
    return with_q.select(
        "vec_id",
        F.aggregate(
            "qv", F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("sum_q"),
        F.array_max("qv").cast("bigint").alias("max_q"),
        F.round("scale", 6).alias("scale_r"),
        F.round(
            vector.dequant_mse(
                F.col("embedding"), F.col("qv"), F.col("scale")
            ),
            9,
        ).alias("mse_r"),
    ).orderBy("vec_id")


@query(
    "qix1_inverted_index",
    oracle="""
WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
             FROM documents)
SELECT tok, CAST(count(*) AS BIGINT) AS df,
       array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings_head
FROM tok GROUP BY tok ORDER BY tok
""",
    doc="qix1: inverted-index build — token -> document frequency + "
    "the first 20 postings (sorted doc_ids). Wordcount-shaped: "
    "explode map-side, distinct on (token, doc) then one groupBy on "
    "the token. The postings column is deliberately CAPPED at 20 ids "
    "so row width stays bounded at any corpus size — at 100 TB the "
    "full index is the (token, doc_id) relation itself (re-sharded by "
    "token ranges), with df and head-of-postings as the per-token "
    "summary row a query planner reads first; an uncapped string_agg "
    "would concentrate a hot token's entire posting list in one row.",
    tags=("llm", "text", "index"),
)
def qix1_inverted_index(spark, sf_dir):
    from pyspark.sql.window import Window

    docs = tables(spark, sf_dir).documents
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    # bound the agg BUFFER, not just the output row: rank postings
    # per token first, collect only rank <= 20 (collect_list skips the
    # NULLs the when() leaves) — a hot token at corpus scale must
    # never gather its full posting list into one aggregation buffer
    # before slicing. The window and the
    # groupBy share the token key, so this is still ONE shuffle.
    rn = F.row_number().over(
        Window.partitionBy("tok").orderBy("doc_id")
    )
    ranked = tok.withColumn("_rn", rn)
    return (
        ranked.groupBy("tok")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("_rn") <= 20, F.col("doc_id"))
                    )
                ),
                ",",
            ).alias("postings_head"),
        )
        .orderBy("tok")
    )


@query(
    "qm3_modality_report",
    oracle="""
SELECT source, 'text/plain' AS mime,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS distinct_payloads
FROM documents GROUP BY source ORDER BY source
""",
    doc="qm3: modality-mix report over the multimodal binary table — "
    "per-source payload counts, byte totals and distinct checksums "
    "(the dataset-card numbers a multimodal corpus ships with). Runs "
    "on the attach_payload output, so the BinaryType payload and its "
    "metadata struct are the thing aggregated; one groupBy on the "
    "source key.",
    tags=("llm", "multimodal", "report"),
)
def qm3_modality_report(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    with_payload = multimodal.attach_payload(docs, "text", "text/plain")
    return (
        with_payload.groupBy("source")
        .agg(
            F.first(F.col("media_meta.mime")).alias("mime"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.octet_length("payload"))
            .cast("bigint")
            .alias("total_bytes"),
            F.countDistinct(F.col("media_meta.checksum"))
            .cast("bigint")
            .alias("distinct_payloads"),
        )
        .orderBy("source")
    )


@query(
    "ql10_l2_normalize",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM e)
SELECT vec_id,
       round(nrm, 5) AS pre_norm,
       abs(sqrt(list_sum(list_transform(v, x -> (x/nrm) * (x/nrm)))) - 1.0)
         < 1e-9 AS unit_ok,
       round(list_sum(list_transform(v, x -> x / nrm)), 5) AS comp_sum
FROM n ORDER BY vec_id
""",
    doc="ql10: L2 normalization of the embedding column (the prep step "
    "before IVF/LSH indexing — cosine becomes dot product on unit "
    "vectors). Map-only higher-order functions; certifies the actual "
    "division (component sum), the input norms, and the unit-norm "
    "invariant, all in one pass. Fixture vectors are never all-zero "
    "(pre_norm > 0 — a zero vector would NULL the division in both "
    "engines identically).",
    tags=("llm", "vector"),
)
def ql10_l2_normalize(spark, sf_dir):
    from sora_spark.functions import vector

    emb = tables(spark, sf_dir).embeddings
    v = vector.to_double(F.col("embedding"))
    nrm = vector.norm(F.col("embedding"))
    unit = F.transform(v, lambda x: x / nrm)
    unit_norm = F.sqrt(
        F.aggregate(
            F.transform(unit, lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    comp_sum = F.aggregate(unit, F.lit(0.0), lambda acc, x: acc + x)
    return emb.select(
        "vec_id",
        F.round(nrm, 5).alias("pre_norm"),
        (F.abs(unit_norm - 1.0) < 1e-9).alias("unit_ok"),
        F.round(comp_sum, 5).alias("comp_sum"),
    ).orderBy("vec_id")


@query(
    "qta8_oov_rate",
    oracle="""
WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS t
             FROM documents),
cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
voc AS (SELECT t FROM (
          SELECT t, row_number() OVER (ORDER BY c DESC, t) AS rn FROM cnt)
        WHERE rn <= 20)
SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS oov_tokens,
       round(avg(CASE WHEN v.t IS NULL THEN 1.0 ELSE 0.0 END), 6)
         AS oov_rate
FROM tok LEFT JOIN voc v USING (t)
GROUP BY source ORDER BY source
""",
    doc="qta8: out-of-vocabulary rate per source against the corpus's "
    "own top-20 token vocabulary (textstats.oov_rate; the fixture "
    "vocabulary has 31 distinct tokens, so V=20 makes the rate BIND "
    "— a larger V would certify only zeros) — tokenizer "
    "coverage check before committing a vocab. Vocabulary selection "
    "is TakeOrderedAndProject (distributed partial top-V, "
    "deterministic (count DESC, token ASC) boundary), then broadcast; "
    "the token stream is flagged map-side, never shuffled on token.",
    tags=("llm", "textstats"),
)
def qta8_oov_rate(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return textstats.oov_rate(docs, vocab_size=20).orderBy("source")


@query(
    "qcont2_contamination_report",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh0 AS (SELECT doc_id, unnest(range(1, greatest(len(w) - 1, 1))) AS i, w
        FROM w),
grams AS (SELECT DISTINCT doc_id,
                 w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
          FROM sh0),
tr AS (SELECT DISTINCT sh FROM grams WHERE doc_id % 50 <> 0),
ev AS (SELECT doc_id AS eval_id, sh FROM grams WHERE doc_id % 50 = 0)
SELECT ev.eval_id, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN tr.sh IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_hit,
       round(avg(CASE WHEN tr.sh IS NULL THEN 0.0 ELSE 1.0 END), 6)
         AS frac
FROM ev LEFT JOIN tr USING (sh)
GROUP BY ev.eval_id ORDER BY ev.eval_id
""",
    doc="qcont2: eval-side contamination report — per eval doc "
    "(doc_id % 50 = 0) the fraction of its distinct word 3-grams "
    "(n=3 so the fixture spread is non-degenerate: fracs 0.4-1.0, vs "
    "5-grams which hit only exact dups) "
    "found anywhere in train (dedup.ngram_contamination_report). The "
    "'how burned is this benchmark' number. Train grams are semi-"
    "joined map-side against the broadcast eval gram set BEFORE any "
    "distinct, so only eval-hitting grams ever shuffle — the qcont1 "
    "order-of-operations discipline applied in the other direction.",
    tags=("llm", "dedup", "contamination"),
)
def qcont2_contamination_report(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    tr = docs.filter(F.col("doc_id") % 50 != 0)
    return dedup.ngram_contamination_report(tr, ev, n=3).orderBy("eval_id")


@query(
    "qta9_zipf_slope",
    oracle="""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
freq AS (SELECT t, count(*) AS f FROM tok GROUP BY t),
ranked AS (SELECT f, row_number() OVER (ORDER BY f DESC, t) AS r FROM freq)
SELECT CAST(count(*) AS BIGINT) AS vocab_size,
       round(regr_slope(ln(f), ln(r)), 4) AS zipf_slope,
       round(regr_r2(ln(f), ln(r)), 4) AS r2
FROM ranked
""",
    doc="qta9: Zipf-law fit of the corpus token distribution — "
    "regr_slope/r2 of log-frequency on log-rank (natural text sits "
    "near slope -1; synthetic or templated corpora deviate, making "
    "this a corpus-authenticity signal). One wordcount pass + one "
    "rank window over the VOCABULARY (vocab-sized, not corpus-sized) "
    "+ one regression aggregate; deterministic (f DESC, token) rank "
    "tie-break.",
    tags=("llm", "textstats", "zipf"),
)
def qta9_zipf_slope(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("f"))
    )
    w = Window.orderBy(F.desc("f"), F.asc("t"))
    ranked = freq.select("f", F.row_number().over(w).alias("r"))
    return ranked.agg(
        F.count("*").cast("bigint").alias("vocab_size"),
        F.round(F.regr_slope(F.log("f"), F.log("r")), 4).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("f"), F.log("r")), 4).alias("r2"),
    )


@query(
    "qta10_url_parse",
    oracle="""
WITH u AS (SELECT doc_id,
                  'https://' || source || '.example.com/docs/'
                    || CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
           FROM documents)
SELECT doc_id,
       regexp_extract(url, 'https://([^/]+)/', 1) AS host,
       regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, '[?]lang=([a-z]+)', 1) AS lang_param,
       regexp_extract(url, 'https://[^.]+[.]([a-z.]+)/', 1) AS domain
FROM u ORDER BY doc_id LIMIT 200
""",
    doc="qta10: URL decomposition (host/path/query-param/registered "
    "domain) — the per-domain bookkeeping web-corpus curation runs "
    "before qcur6-style caps. Deterministic URLs synthesized from "
    "fixture columns; extraction via RE2-portable regexp_extract with "
    "IDENTICAL pattern text in both engines (Spark's parse_url would "
    "be JVM-only — regex keeps the oracle honest).",
    tags=("llm", "textstats", "url"),
)
def qta10_url_parse(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
    )
    return (
        docs.select("doc_id", url.alias("url"))
        .select(
            "doc_id",
            F.regexp_extract("url", "https://([^/]+)/", 1).alias("host"),
            F.regexp_extract("url", "https://[^/]+(/[^?]*)", 1).alias("path"),
            F.regexp_extract("url", "[?]lang=([a-z]+)", 1).alias(
                "lang_param"
            ),
            F.regexp_extract("url", "https://[^.]+[.]([a-z.]+)/", 1).alias(
                "domain"
            ),
        )
        .orderBy("doc_id")
        .limit(200)
    )


@query(
    "qm4_decode_path_gate",
    oracle="""
WITH pos AS (SELECT doc_id, len(text) AS n, text,
                    unnest(range(1, len(text) + 1, 4)) AS i
             FROM documents),
b AS (SELECT doc_id, n, ascii(substr(text, CAST(i AS INT), 1)) AS v
      FROM pos)
SELECT doc_id, CAST(any_value(n) AS INT) AS n_bytes,
       round(avg(v), 6) AS mean_stride
FROM b GROUP BY doc_id ORDER BY doc_id
""",
    doc="qm4: the multimodal DECODE PATH itself under the hash gate — "
    "binary payloads through a real mapInPandas stage (Arrow binary "
    "transfer, per-batch numpy frombuffer, every-4th-byte mean), "
    "matched against an ascii-stride SQL oracle (payloads are UTF-8 "
    "text, fixture is ASCII so byte k == ascii(char k)). qm1-qm3 "
    "certify schema/slicing/metadata; this row certifies the Python "
    "plumbing a production decoder drops into.",
    tags=("llm", "multimodal", "udf"),
)
def qm4_decode_path_gate(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    media = multimodal.attach_payload(docs, "text", "text/plain")
    return (
        multimodal.stride_stats(media)
        .select(
            "doc_id",
            "n_bytes",
            F.round("mean_stride", 6).alias("mean_stride"),
        )
        .orderBy("doc_id")
    )


@query(
    "qta11_intradoc_dedup",
    oracle="""
WITH tok AS (SELECT doc_id, i - 1 AS pos, w[CAST(i AS INT)] AS w
             FROM (SELECT doc_id, string_split(text, ' ') AS w
                   FROM documents),
                  unnest(range(1, len(w) + 1)) AS t(i)),
g AS (SELECT doc_id, pos, w,
             lag(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) || ' ' ||
             lag(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) || ' ' || w
               AS gram
      FROM tok),
k AS (SELECT doc_id, pos, w,
             pos < 2 OR row_number() OVER (PARTITION BY doc_id, gram
                                           ORDER BY pos) = 1 AS keep
      FROM g),
r AS (SELECT doc_id,
             string_agg(w, ' ' ORDER BY pos) FILTER (WHERE keep)
               AS clean_text,
             CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
             CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_dropped
      FROM k GROUP BY doc_id)
SELECT doc_id AS id, clean_text, n_kept, n_dropped
FROM r ORDER BY id
""",
    doc="qta11: intra-document repetition scrubbing "
    "(textstats.intradoc_dedup) — drop every token whose trailing "
    "word 3-gram already occurred in the SAME doc, rebuild the text; "
    "cleaned strings hashed character-for-character. The REMOVAL "
    "transform behind qta5's repetition measurement (C4-style "
    "line/ngram hygiene); per-doc keyed, embarrassingly parallel.",
    tags=("llm", "textstats", "dedup"),
)
def qta11_intradoc_dedup(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return textstats.intradoc_dedup(docs).orderBy("id")


@query(
    "qix2_phrase_query",
    oracle="""
WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
           FROM documents),
m AS (SELECT doc_id, source,
             len(list_filter(range(1, len(w)),
                 i -> w[CAST(i AS INT)] = 'the'
                  AND w[CAST(i AS INT) + 1] = 'data')) > 0 AS hit
      FROM t)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(CASE WHEN hit THEN 1 END) AS BIGINT) AS n_phrase_docs
FROM m GROUP BY source ORDER BY source
""",
    doc="qix2: PHRASE query through the positional-index shape — docs "
    "containing the exact bigram 'the data', found by equi-joining "
    "the token-position relation with itself on (doc, pos+1): the "
    "query an inverted index with positions (qix1's extension) "
    "answers WITHOUT rescanning text. 27/500 docs hit at sf0.01 "
    "(binding). Oracle verifies from the raw token arrays.",
    tags=("llm", "index", "phrase"),
)
def qix2_phrase_query(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    tok = docs.select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    )
    t1 = tok.filter(F.col("w") == "the").select(
        "doc_id", F.col("pos").alias("p1")
    )
    t2 = tok.filter(F.col("w") == "data").select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("p2")
    )
    hits = (
        t1.join(
            t2,
            (F.col("doc_id") == F.col("d2"))
            & (F.col("p2") == F.col("p1") + 1),
        )
        .select("doc_id")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        docs.select("doc_id", "source")
        .join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count("_hit").cast("bigint").alias("n_phrase_docs"),
        )
        .orderBy("source")
    )


@query(
    "qix3_bm25",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
consts AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ('spark', 'vector', 'window')
       GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT t.doc_id,
         round(ln(((c.n_docs - f.df + 0.5) / (f.df + 0.5)) + 1.0)
               * ((t.tf * 2.2)
                  / (t.tf + 1.2 * (0.25 + (0.75 * d.dl) / c.avgdl))),
               6) AS contrib
  FROM tf t JOIN dl d USING (doc_id)
  CROSS JOIN consts c JOIN dfreq f USING (term))
SELECT doc_id, round(sum(contrib), 6) AS score
FROM scored GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20
""",
    doc="qix3: BM25 ranking (llm/textstats.py bm25_topk) — top-20 "
    "documents for the fixed query {spark, vector, window} under the "
    "Lucene idf form (always positive). Builds on the inverted-index "
    "shape (qix1): the query-term IN filter cuts the term stream "
    "BEFORE the (doc, term) tf aggregation; df and the corpus "
    "constants (N, avgdl) are broadcast; nothing after the filter "
    "exceeds |matching docs| rows. Per-term contributions are rounded "
    "to 6dp before the per-doc sum in BOTH engines so float drift "
    "cannot reorder the top-k boundary (same discipline as ql6).",
    tags=("llm", "text", "index", "ranking"),
)
def qix3_bm25(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return textstats.bm25_topk(docs, ["spark", "vector", "window"])


@query(
    "qd8_containment",
    oracle=f"""
WITH {_SHINGLE_SQL},
sizes AS (SELECT doc_id, count(*) AS n FROM shingle GROUP BY doc_id),
inter AS (SELECT p.a, p.b, count(*) AS ni
          FROM cand p
          JOIN shingle sa ON sa.doc_id = p.a
          JOIN shingle sb ON sb.doc_id = p.b AND sa.sh = sb.sh
          GROUP BY 1, 2)
SELECT p.a AS a, p.b AS b,
       round(coalesce(i.ni, 0) * 1.0 / na.n, 5) AS cont_a_in_b,
       round(coalesce(i.ni, 0) * 1.0 / nb.n, 5) AS cont_b_in_a
FROM cand p
LEFT JOIN inter i ON i.a = p.a AND i.b = p.b
JOIN sizes na ON na.doc_id = p.a
JOIN sizes nb ON nb.doc_id = p.b
ORDER BY p.a, p.b LIMIT 100
""",
    doc="qd8: asymmetric shingle CONTAINMENT over the MinHash "
    "candidate pairs (llm/dedup.py containment_over_pairs) — "
    "cont_a_in_b = |A∩B|/|A| on distinct word 3-grams. Jaccard (qd2) "
    "misses sub-document duplication: a paragraph pasted into a much "
    "longer page scores ~0 Jaccard but ~1.0 containment on the short "
    "side — the quoted-boilerplate / scraped-mirror case an LLM "
    "curation pipeline must catch. Same bucket-bounded regime as qd2: "
    "shingle sets joined only for candidate docs, shingle equality "
    "inside the composite equi-join key.",
    tags=("llm", "dedup"),
)
def qd8_containment(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    pairs = _minhash_pairs(docs)
    c = dedup.containment_over_pairs(pairs, docs, shingle_n=3)
    return (
        c.select(
            "a",
            "b",
            F.round("cont_a_in_b", 5).alias("cont_a_in_b"),
            F.round("cont_b_in_a", 5).alias("cont_b_in_a"),
        )
        .orderBy("a", "b")
        .limit(100)
    )


@query(
    "qta12_lexical_profile",
    oracle="""
WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term
             FROM documents),
feat AS (SELECT source, term, length(term) AS wl,
                len(list_filter(string_split_regex(term, '[^aeiou]+'),
                                x -> x <> '')) AS syl
         FROM tok)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(sum(wl) * 1.0 / count(*), 5) AS avg_word_len,
       round(sum(syl) * 1.0 / count(*), 5) AS avg_syllables,
       round(sum(CASE WHEN wl > 6 THEN 1 ELSE 0 END) * 1.0 / count(*), 5)
         AS long_word_ratio,
       round(count(DISTINCT term) * 1.0 / count(*), 5) AS type_token_ratio
FROM feat GROUP BY source ORDER BY source
""",
    doc="qta12: lexical-complexity profile per source — token count, "
    "mean word length, mean syllables per word (maximal vowel runs — "
    "the classic readability proxy, RE2-portable '[^aeiou]+' split), "
    "long-word ratio (>6 chars) and type-token ratio. The "
    "quality-scoring companion to qta2: sentence-based readability "
    "indices (Flesch) are degenerate on this corpus (no sentence "
    "punctuation), so the profile sticks to word-level signals that "
    "DISCRIMINATE here. Wordcount-shaped: one map-side explode + one "
    "groupBy on source; every ratio is a quotient of exact integer "
    "aggregates, so cross-engine float drift is impossible before "
    "the final rounding.",
    tags=("llm", "text", "quality"),
)
def qta12_lexical_profile(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    syl = F.size(
        F.filter(
            F.split(F.col("term"), "[^aeiou]+"), lambda x: x != ""
        )
    )
    feat = docs.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    ).select(
        "source",
        "term",
        F.length("term").alias("wl"),
        syl.alias("syl"),
    )
    return (
        feat.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(F.sum("wl") / F.count("*"), 5).alias("avg_word_len"),
            F.round(F.sum("syl") / F.count("*"), 5).alias("avg_syllables"),
            F.round(
                F.sum(F.when(F.col("wl") > 6, 1).otherwise(0))
                / F.count("*"),
                5,
            ).alias("long_word_ratio"),
            F.round(F.count_distinct("term") / F.count("*"), 5).alias(
                "type_token_ratio"
            ),
        )
        .orderBy("source")
    )


@query(
    "qta13_bigram_logprob",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
bg AS (SELECT doc_id, w[i] AS a, w[i + 1] AS b
       FROM (SELECT doc_id, unnest(range(1, greatest(len(w), 1))) AS i, w
             FROM w)),
c2 AS (SELECT a, b, count(*) AS n2 FROM bg GROUP BY a, b),
c1 AS (SELECT a, count(*) AS n1 FROM bg GROUP BY a)
SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln(CAST(n2 AS DOUBLE) / n1)), 6) AS mean_logprob
FROM bg JOIN c2 USING (a, b) JOIN c1 USING (a)
GROUP BY bg.doc_id ORDER BY bg.doc_id LIMIT 200
""",
    doc="qta13: mean log BIGRAM probability per doc — the next-order "
    "perplexity proxy after qta6's unigram score: P(b|a) = "
    "c(a,b)/c(a,·) over the corpus bigram counts, no smoothing needed "
    "for observed bigrams. Catches locally-incoherent text (random "
    "word soup with plausible unigrams) that the unigram score "
    "passes. Shapes: in-row bigram expansion (map-side, no join for "
    "derivation), two count aggregations, two equi-joins keyed by "
    "bigram/prefix — wordcount economics throughout; round(,6) "
    "absorbs float-summation order exactly like qta6.",
    tags=("llm", "text", "quality"),
)
def qta13_bigram_logprob(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    bg = docs.select(
        "doc_id", F.explode(textstats.bigram_pairs(F.col("text"))).alias("p")
    ).select("doc_id", "p.a", "p.b")
    c2 = bg.groupBy("a", "b").agg(F.count("*").alias("n2"))
    c1 = bg.groupBy("a").agg(F.count("*").alias("n1"))
    return (
        bg.join(c2, ["a", "b"])
        .join(c1, "a")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(
                F.avg(F.log(F.col("n2").cast("double") / F.col("n1"))), 6
            ).alias("mean_logprob"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


@query(
    "qm5_cdc_chunking",
    oracle="""
WITH p AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
                  octet_length(encode(text)) AS n_bytes
           FROM documents),
win AS (SELECT doc_id, n_bytes, i,
               md5(substr(hx, 2 * i + 1, 16)) AS wh
        FROM (SELECT doc_id, hx, n_bytes,
                     unnest(range(0, greatest(n_bytes - 7, 0))) AS i
              FROM p)),
b AS (SELECT doc_id, n_bytes,
             sum(CASE WHEN wh LIKE '0%' THEN 1 ELSE 0 END) AS n_boundaries,
             min(CASE WHEN wh LIKE '0%' THEN i END) AS first_boundary
      FROM win GROUP BY doc_id, n_bytes)
SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(n_boundaries AS BIGINT) AS n_boundaries,
       CAST(n_boundaries + 1 AS BIGINT) AS n_chunks,
       CAST(first_boundary AS BIGINT) AS first_boundary
FROM b ORDER BY doc_id LIMIT 300
""",
    doc="qm5: content-defined chunking over BINARY payloads — the "
    "rolling-window boundary rule behind every dedup store (restic/"
    "borg/LBFS shape): a chunk boundary falls wherever the hash of "
    "the 8-byte window starting at offset i opens with a '0' nibble "
    "(p=1/16 ⇒ ~16-byte expected chunks on this corpus), making "
    "chunk boundaries a pure function of CONTENT, so an insertion "
    "early in a payload re-chunks only its neighborhood — the "
    "property that lets 100 TB of near-identical media dedup at the "
    "chunk level (vs qm1's whole-payload checksum). Here the window "
    "hash runs as JVM-side in-row expansion over the hex projection "
    "(map-side, fan-out = payload bytes, the k-mer-spectrum shape) — "
    "exact and oracle-checkable; at real media sizes the identical "
    "rule runs in the Arrow mapInPandas decode path (llm.multimodal) "
    "with this query as its semantics gate.",
    tags=("llm", "multimodal", "dedup", "chunking"),
)
def qm5_cdc_chunking(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    p = multimodal.attach_payload(docs, "text", "text/plain").select(
        "doc_id",
        F.lower(F.hex("payload")).alias("hx"),
        F.col("media_meta.n_bytes").cast("bigint").alias("n_bytes"),
    )
    win = p.select(
        "doc_id",
        "n_bytes",
        F.explode(
            F.when(
                F.col("n_bytes") >= 8,
                F.sequence(F.lit(0), (F.col("n_bytes") - 8).cast("int")),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("i"),
        "hx",
    ).select(
        "doc_id",
        "n_bytes",
        "i",
        F.md5(F.substring(F.col("hx"), F.col("i") * 2 + 1, 16)).alias("wh"),
    )
    hit = F.col("wh").startswith("0")
    return (
        win.groupBy("doc_id", "n_bytes")
        .agg(
            F.sum(F.when(hit, 1).otherwise(0))
            .cast("bigint")
            .alias("n_boundaries"),
            F.min(F.when(hit, F.col("i")))
            .cast("bigint")
            .alias("first_boundary"),
        )
        .select(
            "doc_id",
            "n_bytes",
            "n_boundaries",
            (F.col("n_boundaries") + 1).cast("bigint").alias("n_chunks"),
            "first_boundary",
        )
        .orderBy("doc_id")
        .limit(300)
    )


@query(
    "qcur9_split_leakage",
    oracle=f"""
WITH {_SHINGLE_SQL},
sp AS (SELECT doc_id,
              CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '-split13'),
                               1, 8) < 'cccccccc' THEN 'train'
                   WHEN substr(md5(CAST(doc_id AS VARCHAR) || '-split13'),
                               1, 8) < 'e6666666' THEN 'val'
                   ELSE 'test' END AS split
       FROM documents),
lab AS (SELECT least(sa.split, sb.split) AS split_a,
               greatest(sa.split, sb.split) AS split_b
        FROM cand p
        JOIN sp sa ON sa.doc_id = p.a
        JOIN sp sb ON sb.doc_id = p.b)
SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(split_a <> split_b AS BOOLEAN) AS is_leakage
FROM lab GROUP BY split_a, split_b ORDER BY split_a, split_b
""",
    doc="qcur9: train/val/test SPLIT-LEAKAGE audit — near-duplicate "
    "candidate pairs (the qd2 MinHash 1-band generator) joined "
    "against the qcur1 deterministic hash split, counted per "
    "(split, split) cell with cross-split cells flagged. THE "
    "pre-training hygiene report: a near-dup of a test document "
    "sitting in train is silent eval contamination that per-split "
    "dedup cannot see — this is why dedup must run BEFORE splitting, "
    "and this audit is the gate that proves whether it did. Same "
    "bucket-bounded economics as qd2 (candidates from signature "
    "equality, never all-pairs) + two broadcast-sized split joins; "
    "output is a 3x3-bounded report.",
    tags=("llm", "pipeline", "split", "dedup"),
)
def qcur9_split_leakage(spark, sf_dir):
    from sora_spark.llm import curate

    docs = tables(spark, sf_dir).documents
    pairs = _minhash_pairs(docs)
    sp = curate.split_by_hash_portable(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")
    sa = sp.select(F.col("doc_id").alias("a"), F.col("split").alias("_sa"))
    sb = sp.select(F.col("doc_id").alias("b"), F.col("split").alias("_sb"))
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            F.least("_sa", "_sb").alias("split_a"),
            F.greatest("_sa", "_sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("is_leakage"),
        )
        .orderBy("split_a", "split_b")
    )


@query(
    "qkm1_kmeans_semantic",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (SELECT row_number() OVER (ORDER BY vec_id) AS cid, v
       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4) t),
a1 AS (SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_distance(e.v, c.v), c.cid) AS rn
    FROM e CROSS JOIN c0 c) t WHERE rn = 1),
c1 AS (SELECT cid, list(m ORDER BY i) AS v FROM (
    SELECT cid, i, avg(v[i]) AS m
    FROM a1 CROSS JOIN range(1, 65) t(i) GROUP BY cid, i) u GROUP BY cid),
c1f AS (SELECT c0.cid, coalesce(u.v, c0.v) AS v
        FROM c0 LEFT JOIN c1 u ON u.cid = c0.cid),
a2 AS (SELECT vec_id, cid, d FROM (
    SELECT e.vec_id, c.cid, list_distance(e.v, c.v) AS d,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_distance(e.v, c.v), c.cid) AS rn
    FROM e CROSS JOIN c1f c) t WHERE rn = 1)
SELECT cid, CAST(count(*) AS BIGINT) AS n, round(sum(d), 4) AS sum_dist,
       CAST(min(vec_id) AS BIGINT) AS first_member
FROM a2 GROUP BY cid ORDER BY cid
""",
    doc="qkm1: k-means semantic clustering over the embedding corpus "
    "— the missing piece between near-dup (pairwise) and curation "
    "(per-cluster sampling/mixing): deterministic Lloyd via "
    "ann.kmeans_centroids (init = 4 lowest vec_ids, ONE mean update, "
    "final re-assignment), exactly the IVF coarse quantizer promoted "
    "to a declared surface. Oracle unrolls the same two assignment "
    "rounds in SQL (argmin = row_number over (distance, cid) — the "
    "same first-lowest tie rule as Spark's array_position). "
    "Assignment is a broadcast-literal argmin (zero shuffle); the "
    "mean update is one posexplode shuffle keyed (cid, pos); only "
    "k×dim floats ever reach the driver — the 100 TB shape. "
    "Data-point init guarantees no cluster empties during the "
    "update (each seed is its own nearest member), so the oracle "
    "needs no empty-cluster fallback in practice — and the oracle "
    "still mirrors the engine's stale-seed-centroid retention "
    "(c1f coalesce) so duplicate-seed corpora cannot diverge; "
    "sum_dist rounds away the "
    "engines' summation-order drift.",
    tags=("llm", "vector", "clustering"),
)
def qkm1_kmeans_semantic(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    cents = ann.kmeans_centroids(emb, n_centroids=4, iters=1)
    dists = ann.centroid_distances(F.col("embedding"), cents)
    assigned = emb.select(
        "vec_id",
        F.array_position(dists, F.array_min(dists)).cast("bigint").alias("cid"),
        F.sqrt(F.array_min(dists)).alias("d"),
    )
    return (
        assigned.groupBy("cid")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("d"), 4).alias("sum_dist"),
            F.min("vec_id").cast("bigint").alias("first_member"),
        )
        .orderBy("cid")
    )


@query(
    "qta14_pmi_collocations",
    oracle="""
WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
uni AS (SELECT unnest(w) AS tok FROM w),
ucnt AS (SELECT tok, count(*)::DOUBLE AS c FROM uni GROUP BY tok),
utot AS (SELECT sum(c) AS n FROM ucnt),
bi0 AS (SELECT unnest(range(1, len(w))) AS i, w FROM w),
bi AS (SELECT w[i] AS a, w[i + 1] AS b FROM bi0),
bcnt AS (SELECT a, b, count(*)::DOUBLE AS c FROM bi GROUP BY a, b),
btot AS (SELECT sum(c) AS nb FROM bcnt),
pmi AS (
  SELECT bcnt.a, bcnt.b, bcnt.c AS n_ab,
         round(ln((bcnt.c / btot.nb) / ((ua.c / utot.n) * (ub.c / utot.n))), 4)
           AS pmi
  FROM bcnt
  JOIN btot ON true JOIN utot ON true
  JOIN ucnt ua ON bcnt.a = ua.tok
  JOIN ucnt ub ON bcnt.b = ub.tok
  WHERE bcnt.c >= 5)
SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab, pmi
FROM pmi ORDER BY pmi DESC, a, b LIMIT 20
""",
    doc="qta14: PMI collocations — top word bigrams by pointwise "
    "mutual information ln(p(ab)/(p(a)p(b))), min count 5: the "
    "phrase-mining / tokenizer-merge-candidate primitive that sits "
    "between qta13's bigram logprob (predictive) and qd2's Jaccard "
    "(similarity). Two wordcount-shaped aggregations (unigrams, "
    "bigrams) + broadcast totals + two broadcast joins against the "
    "unigram counts — nothing beyond the ql5 wordcount scale shape. "
    "PMI is ROUNDED BEFORE the top-20 ordering so the cross-engine "
    "sort boundary is exact; remaining ties break on the bigram "
    "itself.",
    tags=("llm", "text", "collocation"),
)
def qta14_pmi_collocations(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    w = docs.select(F.split("text", " ").alias("w"))
    uni = w.select(F.explode("w").alias("tok"))
    ucnt = uni.groupBy("tok").agg(F.count("*").cast("double").alias("c"))
    utot = ucnt.agg(F.sum("c").alias("n"))
    bi = (
        w.filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> struct(element_at(w, i) AS a, "
                    "element_at(w, i + 1) AS b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )
    bcnt = bi.groupBy("a", "b").agg(F.count("*").cast("double").alias("c"))
    btot = bcnt.agg(F.sum("c").alias("nb"))
    ua = ucnt.select(F.col("tok").alias("a"), F.col("c").alias("ca"))
    ub = ucnt.select(F.col("tok").alias("b"), F.col("c").alias("cb"))
    joined = (
        bcnt.filter(F.col("c") >= 5)
        .join(F.broadcast(btot))
        .join(F.broadcast(utot))
        .join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
    )
    pmi = F.round(
        F.log(
            (F.col("c") / F.col("nb"))
            / ((F.col("ca") / F.col("n")) * (F.col("cb") / F.col("n")))
        ),
        4,
    )
    return (
        joined.select(
            "a", "b", F.col("c").cast("bigint").alias("n_ab"), pmi.alias("pmi")
        )
        .orderBy(F.col("pmi").desc(), "a", "b")
        .limit(20)
    )


@query(
    "qx17_explode_outer",
    oracle="""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN NULL
              ELSE list_filter(string_split(text, ' '), t -> len(t) > 8)
         END AS arr
  FROM documents),
x AS (
  SELECT d.doc_id, u.tok
  FROM d LEFT JOIN LATERAL (SELECT unnest(d.arr) AS tok) u ON true)
SELECT CAST(count(*) AS BIGINT) AS n_out,
       CAST(count(tok) AS BIGINT) AS n_vals,
       CAST(sum(CASE WHEN tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_placeholder,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_toks
FROM x
""",
    doc="qx17: explode vs explode_outer NULL/empty semantics — the "
    "lateral-view trap: plain explode silently DROPS rows whose "
    "array is empty or NULL (docs with no >8-char token, every "
    "7th doc nulled), so a pipeline keyed on doc_id loses documents. "
    "explode_outer preserves them as a single NULL-token row. The "
    "gate counts total rows vs value rows vs placeholder rows vs "
    "surviving distinct doc_ids (must equal ALL docs). Oracle is "
    "DuckDB's LEFT JOIN LATERAL unnest — the same preserved-row "
    "construction. Map-only until the count aggregate.",
    tags=("scalar", "array", "explode"),
)
def qx17_explode_outer(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    arr = F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(
        F.filter(F.split("text", " "), lambda t: F.length(t) > 8)
    )
    x = docs.select("doc_id", F.explode_outer(arr).alias("tok"))
    return x.agg(
        F.count("*").cast("bigint").alias("n_out"),
        F.count("tok").cast("bigint").alias("n_vals"),
        F.sum(F.when(F.col("tok").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_placeholder"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.countDistinct("tok").cast("bigint").alias("n_distinct_toks"),
    )


def _bpe_round_sql(prev_s: str, i: int) -> str:
    """One unrolled BPE merge round: weighted adjacent-pair counts over
    the current symbolization, argmax pair (ties -> lexicographic), and
    the greedy left-to-right fold applying it. DuckDB list slices are
    INCLUSIVE — acc[:-2] drops exactly the last element. Every CTE is
    MATERIALIZED: s{i} references s{i-1} twice (directly and through
    t{i}), so DuckDB's default inlining re-evaluates the chain
    EXPONENTIALLY in round count — 2^16 base-table scans at 16
    rounds, which exhausts file descriptors before it exhausts time;
    materialization makes each round evaluate once (linear), which is
    also what the engine's per-round checkpoint does."""
    return f"""
p{i} AS MATERIALIZED (
       SELECT sym[i] AS a, sym[i + 1] AS b, sum(n) AS cnt
       FROM (SELECT n, sym, unnest(range(1, len(sym))) AS i FROM {prev_s}) u
       GROUP BY a, b),
t{i} AS MATERIALIZED (
       SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1),
s{i} AS MATERIALIZED (
         SELECT word, n,
           list_reduce(list_transform(sym, s -> [s]),
             (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = t{i}.a
                                   AND x[1] = t{i}.b
                              THEN list_append(acc[:-2], t{i}.a || t{i}.b)
                              ELSE list_concat(acc, x) END) AS sym
         FROM s{i - 1} CROSS JOIN t{i})"""


_BPE_MERGES = 16


@query(
    "qta15_bpe_train",
    oracle=(
        """
WITH w AS MATERIALIZED (
           SELECT word, count(*)::BIGINT AS n
           FROM (SELECT unnest(string_split(text, ' ')) AS word
                 FROM documents) u
           WHERE len(word) > 0 GROUP BY word),
s0 AS MATERIALIZED (
           SELECT word, n, string_split(word, '') AS sym FROM w),"""
        + ",".join(_bpe_round_sql(f"s{i - 1}", i) for i in range(1, _BPE_MERGES + 1))
        + """
SELECT * FROM (
  SELECT 1 AS merge_rank, a, b, CAST(cnt AS BIGINT) AS cnt FROM t1
"""
        + "\n".join(
            f"  UNION ALL SELECT {i}, a, b, CAST(cnt AS BIGINT) FROM t{i}"
            for i in range(2, _BPE_MERGES + 1)
        )
        + """) u
ORDER BY merge_rank"""
    ),
    doc=f"qta15: BPE tokenizer TRAINING — learn the first "
    f"{_BPE_MERGES} merges from the corpus (llm/bpe.py), certified "
    "against the same rounds unrolled in SQL: weighted adjacent-pair "
    "counts over the word-frequency table, argmax pair (ties "
    "lexicographic), GREEDY left-to-right merge application "
    "(overlapping runs fuse leftmost-first — the fold both engines "
    "implement; a naive pairwise replace would diverge on 'aaa'). "
    "Each learned merge depends on all prior merges, so the "
    f"{_BPE_MERGES}-row result transitively certifies the whole "
    "iterated pipeline (depth 16 — deep rounds exercise "
    "merged-symbol-on-merged-symbol fusions a toy depth of 4 never "
    "reaches; PRODUCTION depth lives in "
    "llm/bpe.py train_deep, the driver-loop twin pinned at 1000 "
    "merges against the Sennrich reference in tests/test_llm.py::"
    "test_bpe_train_deep). Scale: one corpus shuffle builds "
    "(word, n); every round after runs on the vocabulary-sized table "
    "with one 1-row argmax collect — the reference-trainer dataflow, "
    "distributed.",
    tags=("llm", "text", "tokenizer", "bpe"),
)
def qta15_bpe_train(spark, sf_dir):
    from sora_spark.llm import bpe

    docs = tables(spark, sf_dir).documents
    merges, _ = bpe.train(bpe.word_counts(docs), _BPE_MERGES)
    return spark.createDataFrame(
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "merge_rank int, a string, b string, cnt bigint",
    ).orderBy("merge_rank")


@query(
    "qix4_proximity_query",
    oracle="""
WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
           FROM documents),
p AS (SELECT doc_id, source, unnest(range(1, len(w) + 1)) AS i, w FROM t),
tok AS (SELECT doc_id, source, w[CAST(i AS INT)] AS tok, CAST(i AS BIGINT) AS i
        FROM p),
pair AS (
  SELECT a.doc_id, a.source,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(count(CASE WHEN a.i < b.i THEN 1 END) AS BIGINT) AS n_ordered
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id AND b.tok = 'hash'
   AND abs(a.i - b.i) <= 3 AND a.i != b.i
  WHERE a.tok = 'join'
  GROUP BY a.doc_id, a.source)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_pairs) AS BIGINT) AS n_pairs,
       CAST(sum(n_ordered) AS BIGINT) AS n_ordered
FROM pair GROUP BY source ORDER BY source
""",
    doc="qix4: PROXIMITY query ('join' NEAR/3 'hash') through the "
    "positional-index shape — the slop generalization of qix2's "
    "exact phrase: the two posting lists equi-join on doc_id with a "
    "|Δpos| <= 3 residual, so the join fans out by posting-list "
    "length, never by document length. n_ordered (a strictly before "
    "b) is gated alongside the symmetric count, certifying the "
    "position arithmetic not just the match set. At 100 TB this is "
    "the search-engine shape: tokens are pre-exploded once into the "
    "(term, doc, pos) relation (qix1's index), and every proximity "
    "query is a selective two-posting join.",
    tags=("llm", "index", "proximity"),
)
def qix4_proximity_query(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    tok = docs.select(
        "doc_id",
        "source",
        F.posexplode(F.split("text", " ")).alias("i0", "tok"),
    ).select(
        "doc_id", "source", "tok", (F.col("i0") + 1).cast("bigint").alias("i")
    )
    a = tok.filter(F.col("tok") == "join").select(
        "doc_id", "source", F.col("i").alias("ia")
    )
    b = tok.filter(F.col("tok") == "hash").select(
        F.col("doc_id").alias("doc_b"), F.col("i").alias("ib")
    )
    pair = (
        a.join(
            b,
            (F.col("doc_id") == F.col("doc_b"))
            & (F.abs(F.col("ia") - F.col("ib")) <= 3)
            & (F.col("ia") != F.col("ib")),
        )
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.count(F.when(F.col("ia") < F.col("ib"), 1))
            .cast("bigint")
            .alias("n_ordered"),
        )
    )
    return (
        pair.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_pairs").cast("bigint").alias("n_pairs"),
            F.sum("n_ordered").cast("bigint").alias("n_ordered"),
        )
        .orderBy("source")
    )


_BPE_ENC_MERGES = 6


@query(
    "qta20_bpe_encode",
    oracle=(
        """
WITH w AS MATERIALIZED (
           SELECT word, count(*)::BIGINT AS n
           FROM (SELECT unnest(string_split(text, ' ')) AS word
                 FROM documents) u
           WHERE len(word) > 0 GROUP BY word),
s0 AS MATERIALIZED (
           SELECT word, n, string_split(word, '') AS sym FROM w),"""
        + ",".join(
            _bpe_round_sql(f"s{i - 1}", i)
            for i in range(1, _BPE_ENC_MERGES + 1)
        )
        + f"""
, tok AS (SELECT word, n, unnest(sym) AS token FROM s{_BPE_ENC_MERGES})
SELECT token, CAST(sum(n) AS BIGINT) AS total_n,
       CAST(count(DISTINCT word) AS BIGINT) AS n_words
FROM tok GROUP BY token ORDER BY total_n DESC, token LIMIT 20"""
    ),
    doc=f"qta20: distributed BPE ENCODE — tokenize the corpus with the "
    f"{_BPE_ENC_MERGES} merges LEARNED by qta15's trainer, the operator "
    "an actual training-data pipeline runs 1000x more often than "
    "train. The Spark side runs the standalone encoder "
    "(llm/bpe.py encode_words: broadcast merge table, Arrow-batched "
    "pandas UDF, greedy leftmost fold per merge in training order) "
    "over the DISTINCT word table — Python work stays "
    "vocabulary-sized; corpus weights come from the (word, n) "
    "frequency join, so the gate certifies corpus-level token totals, "
    "not just per-word splits. Oracle re-derives the same "
    "merges AND the encoding via the unrolled-SQL rounds, so a "
    "divergence in either training or encoding fails the hash. "
    "Result: top-20 tokens by corpus-weighted frequency (ties broken "
    "on token — total order, stable under LIMIT).",
    tags=("llm", "text", "tokenizer", "bpe"),
)
def qta20_bpe_encode(spark, sf_dir):
    from sora_spark.llm import bpe

    docs = tables(spark, sf_dir).documents
    # lazy cut: train's first argmax collect materializes it
    wc = bpe.word_counts(docs).localCheckpoint(eager=False)
    merges, _ = bpe.train(wc, _BPE_ENC_MERGES)
    enc = bpe.encode_words(wc, merges)
    return (
        # explode_OUTER, deliberately: plain explode makes Catalyst
        # infer `size(tokens) > 0` under the Generate and push it past
        # the projection, which re-evaluates the Arrow encode UDF a
        # second time per word (seen as two ArrowEvalPython nodes —
        # 2x the Python cost, pinned in the plan tests). Outer explode
        # carries no inferred filter, and the outputs are identical:
        # every non-empty word encodes to >= 1 token, so there are no
        # empty arrays for outer to turn into NULL rows.
        enc.select("word", "n", F.explode_outer("tokens").alias("token"))
        .groupBy("token")
        .agg(
            F.sum("n").cast("bigint").alias("total_n"),
            F.countDistinct("word").cast("bigint").alias("n_words"),
        )
        .orderBy(F.desc("total_n"), "token")
        .limit(20)
    )


_PACK_BUDGET = 800


@query(
    "qpipe5_tokenize_and_pack",
    oracle=(
        """
WITH RECURSIVE wc AS (SELECT word, count(*)::BIGINT AS n
           FROM (SELECT unnest(string_split(text, ' ')) AS word
                 FROM documents) u
           WHERE len(word) > 0 GROUP BY word),
s0 AS (SELECT word, n, string_split(word, '') AS sym FROM wc),"""
        + ",".join(
            _bpe_round_sql(f"s{i - 1}", i)
            for i in range(1, _BPE_ENC_MERGES + 1)
        )
        + f"""
, wtok AS (SELECT word, len(sym) AS n_tok FROM s{_BPE_ENC_MERGES}),
dw AS (SELECT doc_id, word
       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
             FROM documents) u
       WHERE len(word) > 0),
dt AS (SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS n_tokens
       FROM dw JOIN wtok USING (word) GROUP BY doc_id),
o AS (SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY doc_id) AS rn FROM dt),
walk(rn, doc_id, n, fill, bin) AS (
  SELECT rn, doc_id, n_tokens, least(n_tokens, {_PACK_BUDGET}), 0
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.rn, o.doc_id, o.n_tokens,
         CASE WHEN wk.fill + least(o.n_tokens, {_PACK_BUDGET})
                     > {_PACK_BUDGET}
              THEN least(o.n_tokens, {_PACK_BUDGET})
              ELSE wk.fill + least(o.n_tokens, {_PACK_BUDGET}) END,
         CASE WHEN wk.fill + least(o.n_tokens, {_PACK_BUDGET})
                     > {_PACK_BUDGET}
              THEN wk.bin + 1 ELSE wk.bin END
  FROM walk wk JOIN o ON o.rn = wk.rn + 1)
SELECT CAST(bin AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS tok_sum
FROM walk GROUP BY bin ORDER BY bin_id"""
    ),
    doc="qpipe5: tokenizer-true sequence packing — the composed "
    "pretraining-batch pipeline: train BPE merges on the corpus "
    "(qta15), ENCODE every distinct word with them (qta20), roll "
    "real token counts up to documents (explode + vocab-sized hash "
    "join — the corpus pass never runs Python), then greedy-pack "
    f"docs into {_PACK_BUDGET}-token context windows (qcur8's "
    "operator, single-partition doc_id order so the bin walk is the "
    "oracle's linear recursion). Replaces qcur8's whitespace proxy "
    "counts with LEARNED-tokenizer counts — the number that actually "
    "bounds an attention matrix. Gate certifies per-bin doc counts "
    "and token sums end-to-end: a drift in training, encoding, "
    "doc rollup, OR packing moves some bin's row. Scale shape: "
    "Python work is vocabulary-sized, packing is per-partition "
    "greedy (the multi-partition form is the 100 TB path; this row "
    "pins the algebra).",
    tags=("llm", "pipeline", "tokenizer", "packing"),
)
def qpipe5_tokenize_and_pack(spark, sf_dir):
    from sora_spark.llm import bpe, curate

    docs = tables(spark, sf_dir).documents
    # lazy cut: train's first argmax collect materializes it
    wc = bpe.word_counts(docs).localCheckpoint(eager=False)
    merges, _ = bpe.train(wc, _BPE_ENC_MERGES)
    wtok = bpe.encode_words(wc, merges).select(
        "word", F.size("tokens").alias("n_tok")
    )
    dw = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.length("word") > 0)
    dt = (
        dw.join(wtok, "word")
        .groupBy("doc_id")
        .agg(F.sum("n_tok").cast("long").alias("n_tokens"))
    )
    packed = curate.pack_documents(
        dt.coalesce(1), token_budget=_PACK_BUDGET, token_col="n_tokens"
    )
    return (
        packed.groupBy("bin_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("tok_sum"),
        )
        .select(
            F.col("bin_id").cast("bigint").alias("bin_id"),
            "n_docs",
            "tok_sum",
        )
        .orderBy("bin_id")
    )


def _pq_sub_sql(k: int) -> str:
    """Unrolled per-subspace k-means for PQ: slice columns are
    1-indexed INCLUSIVE in DuckDB (v[a:b]); one assign → mean update →
    final assign, the qkm1 protocol on the 16-dim sub-vector."""
    lo, hi = 16 * k + 1, 16 * k + 16
    return f"""
e{k} AS (SELECT vec_id, (CAST(embedding AS DOUBLE[]))[{lo}:{hi}] AS v
        FROM embeddings),
c0_{k} AS (SELECT row_number() OVER (ORDER BY vec_id) AS cid, v
        FROM (SELECT vec_id, v FROM e{k} ORDER BY vec_id LIMIT 4) t),
a1_{k} AS (SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_distance(e.v, c.v), c.cid) AS rn
    FROM e{k} e CROSS JOIN c0_{k} c) t WHERE rn = 1),
c1_{k} AS (SELECT cid, list(m ORDER BY i) AS v FROM (
    SELECT cid, i, avg(v[i]) AS m
    FROM a1_{k} CROSS JOIN range(1, 17) t(i) GROUP BY cid, i) u GROUP BY cid),
c1f_{k} AS (SELECT c0.cid, coalesce(u.v, c0.v) AS v
        FROM c0_{k} c0 LEFT JOIN c1_{k} u ON u.cid = c0.cid),
a2_{k} AS (SELECT vec_id, cid AS code{k}, d * d AS d2_{k} FROM (
    SELECT e.vec_id, c.cid, list_distance(e.v, c.v) AS d,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_distance(e.v, c.v), c.cid) AS rn
    FROM e{k} e CROSS JOIN c1f_{k} c) t WHERE rn = 1)"""


@query(
    "qvq2_product_quantization",
    oracle=(
        "WITH "
        + ",".join(_pq_sub_sql(k) for k in range(4))
        + """
SELECT a2_0.vec_id,
       CAST(code0 AS BIGINT) AS code0, CAST(code1 AS BIGINT) AS code1,
       CAST(code2 AS BIGINT) AS code2, CAST(code3 AS BIGINT) AS code3,
       round(d2_0 + d2_1 + d2_2 + d2_3, 5) AS recon_err
FROM a2_0
JOIN a2_1 ON a2_1.vec_id = a2_0.vec_id
JOIN a2_2 ON a2_2.vec_id = a2_0.vec_id
JOIN a2_3 ON a2_3.vec_id = a2_0.vec_id
ORDER BY a2_0.vec_id"""
    ),
    doc="qvq2: PRODUCT quantization — the 64-dim embedding split into "
    "4×16-dim subspaces, an independent deterministic k-means "
    "codebook (4 codes, the qkm1 Lloyd protocol) per subspace, every "
    "vector encoded as 4 codes with its exact reconstruction error "
    "(sum of per-subspace squared distances to the chosen "
    "centroids). With qvq1 (scalar int8) this completes the two "
    "halves of IVF-PQ: coarse lists prune the search (plan-pinned "
    "IVF), PQ codes shrink residual storage 64×8B → 4B. All four "
    "codebooks train in the SAME two corpus passes (per-sub "
    "assignment is one literal-argmin projection; updates share one "
    "posexplode shuffle each) and encoding is a single map-only "
    "select — certified per VECTOR, codes and error both, against "
    "the 4× unrolled SQL.",
    tags=("llm", "vector", "quantization", "pq"),
)
def qvq2_product_quantization(spark, sf_dir):
    from sora_spark.functions import vector

    emb = tables(spark, sf_dir).embeddings
    v = vector.to_double(F.col("embedding"))
    sub_cols = [F.slice(v, 16 * k + 1, 16).alias("sub") for k in range(4)]
    codebooks = []
    for k in range(4):
        sub_df = emb.select("vec_id", sub_cols[k])
        codebooks.append(
            ann.kmeans_centroids(sub_df, n_centroids=4, iters=1, vec_col="sub")
        )
    exprs = ["vec_id"]
    err = None
    for k in range(4):
        dists = ann.centroid_distances(F.slice(v, 16 * k + 1, 16), codebooks[k])
        exprs.append(
            F.array_position(dists, F.array_min(dists))
            .cast("bigint")
            .alias(f"code{k}")
        )
        d2 = F.array_min(dists)
        err = d2 if err is None else err + d2
    exprs.append(F.round(err, 5).alias("recon_err"))
    return emb.select(*exprs).orderBy("vec_id")


@query(
    "qta16_topk_keywords",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
tok AS (SELECT doc_id, unnest(w) AS tok FROM w),
tf AS (SELECT doc_id, tok, count(*)::DOUBLE AS tf
       FROM tok GROUP BY doc_id, tok),
df AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY tok),
n AS (SELECT count(*)::DOUBLE AS n FROM w),
scored AS (
  SELECT tf.doc_id, tf.tok,
         round(tf.tf * ln((n.n + 1) / (df.df + 1)), 6) AS tfidf
  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n),
ranked AS (
  SELECT doc_id, tok, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, tok) AS rk
  FROM scored)
SELECT doc_id, CAST(rk AS BIGINT) AS rk, tok, tfidf
FROM ranked WHERE rk <= 3 AND doc_id < 100
ORDER BY doc_id, rk
""",
    doc="qta16: per-document top-3 TF-IDF keywords — ql6's corpus "
    "statistics turned into the document-TAGGING operator (the "
    "metadata-enrichment step before curation filters can select "
    "by topic). Smoothed idf ln((N+1)/(df+1)); scores ROUNDED "
    "BEFORE the per-doc top-3 window so the rank boundary is "
    "cross-engine exact, residual ties break on the token. Output "
    "restricted to doc_id < 100 to keep the gate row set "
    "windowed-but-bounded. Two wordcount aggregations + a "
    "broadcast df join + one per-doc window — same scale shape as "
    "ql6 plus a keyed top-k.",
    tags=("llm", "text", "tfidf", "keywords"),
)
def qta16_topk_keywords(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = tok.groupBy("doc_id", "tok").agg(
        F.count("*").cast("double").alias("tf")
    )
    df = tf.groupBy("tok").agg(F.count("*").cast("double").alias("df"))
    n = docs.agg(F.count("*").cast("double").alias("n"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1) / (F.col("df") + 1)), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter((F.col("rk") <= 3) & (F.col("doc_id") < 100))
        .select("doc_id", "rk", "tok", "tfidf")
        .orderBy("doc_id", "rk")
    )


@query(
    "qm6_data_uri_ingestion",
    oracle="""
WITH enc AS (
  SELECT doc_id,
         'data:text/plain;base64,' || to_base64(encode(substr(text, 1, 45)))
           AS uri
  FROM documents),
parsed AS (
  SELECT doc_id,
         regexp_extract(uri, '^data:([^;]+);base64,(.*)$', 1) AS mime,
         decode(from_base64(
           regexp_extract(uri, '^data:([^;]+);base64,(.*)$', 2))) AS payload
  FROM enc)
SELECT mime, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN payload = (SELECT substr(d2.text, 1, 45)
                                     FROM documents d2
                                     WHERE d2.doc_id = parsed.doc_id)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip,
       CAST(sum(length(payload)) AS BIGINT) AS total_chars
FROM parsed GROUP BY mime
""",
    doc="qm6: data-URI ingestion — the inline-multimodal transport "
    "format (HTML srcsets, JSON payloads with embedded media): "
    "construct 'data:mime;base64,...' URIs from document prefixes, "
    "then PARSE them back — mime via regexp group, payload via "
    "base64 decode — and gate exact payload roundtrip per doc. "
    "Composes qx18's codec findings: Spark's MIME CRLF wrapping is "
    "stripped at construction (a 60-byte payload encodes to 80 "
    "chars and wraps — how this gate first failed — and multibyte "
    "text can push ANY char-prefix over the limit, so the "
    "normalization, not a length choice, is the robust fix). Map-only parse — the shape of a 100 TB "
    "crawl-extraction stage where the decode UDF (qm4) slots in "
    "behind this exact schema.",
    tags=("llm", "multimodal", "ingestion"),
)
def qm6_data_uri_ingestion(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    prefix = F.substring("text", 1, 45)
    enc = docs.select(
        "doc_id",
        prefix.alias("orig"),
        F.concat(
            F.lit("data:text/plain;base64,"),
            # strip the MIME CRLF wrapping (the qx18 normalization):
            # multibyte text can push ANY char-prefix over the 76-char
            # encoded line limit, and a wrapped URI breaks the
            # anchored parse regex (review finding)
            F.regexp_replace(
                F.base64(F.encode(prefix, "utf-8")), "\r\n", ""
            ),
        ).alias("uri"),
    )
    pat = r"^data:([^;]+);base64,(.*)$"
    parsed = enc.select(
        "doc_id",
        "orig",
        F.regexp_extract("uri", pat, 1).alias("mime"),
        F.decode(
            F.unbase64(F.regexp_extract("uri", pat, 2)), "utf-8"
        ).alias("payload"),
    )
    return parsed.groupBy("mime").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("payload") == F.col("orig"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_roundtrip"),
        F.sum(F.length("payload")).cast("bigint").alias("total_chars"),
    )


@query(
    "ql11_mips_topk",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
probe AS (SELECT v AS pv FROM e WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         round(list_inner_product(e.v, probe.pv), 6) AS dot
  FROM e CROSS JOIN probe WHERE e.vec_id != 0)
SELECT vec_id, dot FROM scored
ORDER BY dot DESC, vec_id LIMIT 10
""",
    doc="ql11: maximum inner-product search (MIPS) — top-10 by raw "
    "dot product against probe vec 0, the retrieval mode for "
    "unnormalized embeddings where cosine (ql3) ranks DIFFERENTLY. "
    "The engine runs the norm-AUGMENTATION reduction (Bachrach et "
    "al.): append sqrt(M² − ‖x‖²) to each corpus vector and 0 to "
    "the probe, after which ascending L2 distance in the augmented "
    "space is exactly descending inner product — the transform that "
    "lets every L2-based ANN structure (the IVF index, LSH) serve "
    "MIPS unchanged. The declared result cuts the top-10 by the "
    "ROUNDED dot with vec_id ties — identical boundary rule to the "
    "oracle; the augmented-L2 ordering equivalence is pinned by a "
    "dedicated unit test over the full corpus ranking, where a "
    "wrong augmentation cannot hide. Broadcast probe, "
    "one JVM-side pass, TakeOrdered top-k.",
    tags=("llm", "vector", "mips", "ann"),
)
def ql11_mips_topk(spark, sf_dir):
    from sora_spark.functions import vector

    emb = tables(spark, sf_dir).embeddings
    v = vector.to_double(F.col("embedding"))
    probe_row = (
        emb.filter(F.col("vec_id") == 0)
        .select(v.alias("pv"))
        .collect()[0]
    )
    pv = [float(x) for x in probe_row.pv]
    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", v.alias("v"))
    # max corpus norm M (one tiny aggregate), then the augmented
    # coordinate aug = sqrt(M^2 - |x|^2); probe's augmented coord is 0
    norm2 = F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)
    m2 = corpus.agg(F.max(norm2).alias("m2")).collect()[0].m2
    pv_arr = F.array(*[F.lit(x) for x in pv])
    # augmented squared L2 distance:
    #   |x - p|^2 + (aug_x - 0)^2 = |x|^2 - 2<x,p> + |p|^2 + M^2 - |x|^2
    #                             = M^2 + |p|^2 - 2<x,p>
    # ascending in that is descending in <x,p>; compute it EXPLICITLY
    # through the augmented coordinates so the reduction itself (not
    # the algebra above) is what the oracle certifies
    aug = F.sqrt(F.greatest(F.lit(m2) - norm2, F.lit(0.0)))
    diff2 = F.aggregate(
        F.zip_with("v", pv_arr, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    aug_dist2 = diff2 + aug * aug
    dot = F.aggregate(
        F.zip_with("v", pv_arr, lambda a, b: a * b),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    # final boundary EXACTLY as the oracle cuts it (rounded dot,
    # vec_id) — cutting on the raw augmented distance could disagree
    # at a rounded-tie boundary (review finding); the augmented-L2
    # path itself is certified by
    # test_llm::test_mips_augmentation_matches_dot_ranking
    return (
        corpus.select(
            "vec_id",
            F.round(dot, 6).alias("dot"),
            aug_dist2.alias("_ad2"),
        )
        .orderBy(F.col("dot").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", "dot")
    )


@query(
    "qta17_quality_gate",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents),
wc AS (SELECT doc_id, term, count(*) AS c, length(term) AS wl
       FROM tok GROUP BY doc_id, term),
st AS (SELECT doc_id, sum(c) AS n, count(*) AS dn, max(c) AS maxc,
              sum(c * wl) AS sum_wl
       FROM wc GROUP BY doc_id)
SELECT doc_id, CAST(n AS BIGINT) AS n_words,
       round(dn * 1.0 / n, 5) AS ttr,
       round(maxc * 1.0 / n, 5) AS top_share,
       round(sum_wl * 1.0 / n, 5) AS mean_word_len,
       (n BETWEEN 30 AND 90) AS len_ok,
       (dn * 10 >= n * 4) AS ttr_ok,
       (maxc * 5 <= n) AS rep_ok,
       (sum_wl * 10 >= n * 39 AND sum_wl * 10 <= n * 52) AS wl_ok,
       ((n BETWEEN 30 AND 90) AND dn * 10 >= n * 4 AND maxc * 5 <= n
        AND sum_wl * 10 >= n * 39 AND sum_wl * 10 <= n * 52) AS keep
FROM st ORDER BY doc_id LIMIT 300
""",
    doc="qta17: Gopher/FineWeb-style rule-based quality gate, "
    "calibrated to signals that DISCRIMINATE on this corpus (word "
    "count 30-90, type-token ratio >= 0.4, top-word share <= 0.2, "
    "mean word length in [3.9, 5.2]; the classic symbol/punctuation "
    "rules are degenerate here - no punctuation in the fixture). "
    "Every rule fires on INTEGER cross-multiplication (dn*10 >= n*4 "
    "etc.), so the keep decision is boundary-exact cross-engine; the "
    "rounded ratios are reported for inspection only. Shape: "
    "two-level aggregation (doc x term counts, then per-doc moments) "
    "- wordcount economics, one shuffle chain, no joins; at 100 TB "
    "this is the cheapest possible per-doc filter pass and runs "
    "map-side-partial throughout.",
    tags=("llm", "text", "quality", "curation"),
)
def qta17_quality_gate(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    wc = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("c"))
        .select("doc_id", "c", F.length("term").alias("wl"))
    )
    st = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("dn"),
        F.max("c").alias("maxc"),
        F.sum(F.col("c") * F.col("wl")).alias("sum_wl"),
    )
    n, dn, maxc, swl = (F.col(c) for c in ("n", "dn", "maxc", "sum_wl"))
    len_ok = (n >= 30) & (n <= 90)
    ttr_ok = dn * 10 >= n * 4
    rep_ok = maxc * 5 <= n
    wl_ok = (swl * 10 >= n * 39) & (swl * 10 <= n * 52)
    return (
        st.select(
            "doc_id",
            n.cast("bigint").alias("n_words"),
            F.round(dn / n, 5).alias("ttr"),
            F.round(maxc / n, 5).alias("top_share"),
            F.round(swl / n, 5).alias("mean_word_len"),
            len_ok.alias("len_ok"),
            ttr_ok.alias("ttr_ok"),
            rep_ok.alias("rep_ok"),
            wl_ok.alias("wl_ok"),
            (len_ok & ttr_ok & rep_ok & wl_ok).alias("keep"),
        )
        .orderBy("doc_id")
        .limit(300)
    )


@query(
    "qta18_repetition_signals",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
p AS (SELECT doc_id, i, w[i] AS term
      FROM (SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, w FROM w)),
runs AS (SELECT doc_id, term,
                i - row_number() OVER (PARTITION BY doc_id, term ORDER BY i)
                  AS g
         FROM p),
runlen AS (SELECT doc_id, count(*) AS rl
           FROM runs GROUP BY doc_id, term, g),
mr AS (SELECT doc_id, max(rl) AS max_run FROM runlen GROUP BY doc_id),
base AS (SELECT doc_id, count(*) AS n, count(DISTINCT term) AS dn
         FROM p GROUP BY doc_id),
bg AS (SELECT doc_id, w[i] AS a, w[i + 1] AS b
       FROM (SELECT doc_id, unnest(range(1, greatest(len(w), 1))) AS i, w
             FROM w)),
bgc AS (SELECT doc_id, sum(c) AS nb, max(c) AS mc
        FROM (SELECT doc_id, a, b, count(*) AS c FROM bg
              GROUP BY doc_id, a, b)
        GROUP BY doc_id)
SELECT base.doc_id, CAST(n AS BIGINT) AS n_words,
       round(COALESCE(mc * 1.0 / nb, 0), 5) AS top_bigram_share,
       round(1 - dn * 1.0 / n, 5) AS dup_word_frac,
       CAST(max_run AS BIGINT) AS max_run
FROM base JOIN mr USING (doc_id) LEFT JOIN bgc USING (doc_id)
ORDER BY doc_id LIMIT 300
""",
    doc="qta18: intra-document repetition signals - top-bigram share, "
    "duplicate-word fraction, and the longest run of consecutive "
    "identical words (gaps-and-islands: position minus per-term "
    "row_number identifies each run; pure integer window logic, so "
    "cross-engine exact). These are the Gopher 'repetition' filters "
    "that catch degenerate generations exact-dedup misses. Shapes: "
    "one map-side posexplode feeding (a) a per-(doc,term,island) "
    "count, (b) a per-doc distinct count, (c) an in-row bigram "
    "expansion + two-level count - all wordcount-shaped, partial-"
    "aggregated, partitionable by doc at 100 TB.",
    tags=("llm", "text", "quality", "repetition"),
)
def qta18_repetition_signals(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    pos = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i0", "term")
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "term")
    rn = F.row_number().over(
        Window.partitionBy("doc_id", "term").orderBy("i")
    )
    runlen = (
        pos.select("doc_id", "term", "i", (F.col("i") - rn).alias("g"))
        .groupBy("doc_id", "term", "g")
        .agg(F.count("*").alias("rl"))
    )
    mr = runlen.groupBy("doc_id").agg(F.max("rl").alias("max_run"))
    base = pos.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.count_distinct("term").alias("dn")
    )
    bg = docs.select(
        "doc_id", F.explode(textstats.bigram_pairs(F.col("text"))).alias("p")
    ).select("doc_id", "p.a", "p.b")
    bgc = (
        bg.groupBy("doc_id", "a", "b")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("nb"), F.max("c").alias("mc"))
    )
    return (
        base.join(mr, "doc_id")
        .join(bgc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_words"),
            F.round(
                F.coalesce(F.col("mc") / F.col("nb"), F.lit(0.0)), 5
            ).alias("top_bigram_share"),
            F.round(F.lit(1) - F.col("dn") / F.col("n"), 5).alias(
                "dup_word_frac"
            ),
            F.col("max_run").cast("bigint").alias("max_run"),
        )
        .orderBy("doc_id")
        .limit(300)
    )


@query(
    "qta19_perplexity_gate",
    oracle="""
WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w
           FROM documents),
bg AS (SELECT doc_id, source, w[i] AS a, w[i + 1] AS b
       FROM (SELECT doc_id, source,
                    unnest(range(1, greatest(len(w), 1))) AS i, w
             FROM w)),
c2 AS (SELECT a, b, count(*) AS n2 FROM bg GROUP BY a, b),
c1 AS (SELECT a, count(*) AS n1 FROM bg GROUP BY a),
d AS (SELECT bg.doc_id, bg.source,
             round(avg(ln(CAST(n2 AS DOUBLE) / n1)), 6) AS mlp
      FROM bg JOIN c2 USING (a, b) JOIN c1 USING (a)
      GROUP BY bg.doc_id, bg.source)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN mlp >= -3.42 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       round(avg(exp(-mlp)), 5) AS mean_ppl
FROM d GROUP BY source ORDER BY source
""",
    doc="qta19: perplexity-based curation gate - the CCNet/FineWeb "
    "filter shape: score every doc with a language model (here the "
    "corpus-trained bigram model of qta13), keep docs whose mean log "
    "probability clears a threshold, report the per-source keep "
    "counts + mean perplexity the curation dashboard shows. The keep "
    "decision compares the ROUND(6) mean-logprob (the cross-engine-"
    "stable value qta13 already certifies) against lambda = -3.42, "
    "calibrated into a measured dead zone (nearest doc values "
    "-3.420025 / -3.419958 at sf0.1; keeps ~88% at every sf, so the "
    "gate discriminates). Shape: in-row bigram expansion + two "
    "count aggs + two equi-joins (the qta13 model), then one per-doc "
    "and one per-source agg - wordcount economics; at 100 TB the "
    "model tables are broadcast-sized and the row path stays "
    "JVM-side.",
    tags=("llm", "text", "quality", "curation"),
)
def qta19_perplexity_gate(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    bg = docs.select(
        "doc_id", "source",
        F.explode(textstats.bigram_pairs(F.col("text"))).alias("p"),
    ).select("doc_id", "source", "p.a", "p.b")
    c2 = bg.groupBy("a", "b").agg(F.count("*").alias("n2"))
    c1 = bg.groupBy("a").agg(F.count("*").alias("n1"))
    d = (
        bg.join(c2, ["a", "b"])
        .join(c1, "a")
        .groupBy("doc_id", "source")
        .agg(
            F.round(
                F.avg(F.log(F.col("n2").cast("double") / F.col("n1"))), 6
            ).alias("mlp")
        )
    )
    return (
        d.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(
                F.when(F.col("mlp") >= -3.42, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_kept"),
            F.round(F.avg(F.exp(-F.col("mlp"))), 5).alias("mean_ppl"),
        )
        .orderBy("source")
    )


@query(
    "ql12_cosine_range_search",
    oracle="""
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 5)
         AS sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 5)
      >= 0.4
ORDER BY a, b
""",
    doc="ql12: exact cosine RANGE search - every pair with rounded "
    "sim >= 0.4 (the radius-query twin of ql4's top-k; tau calibrated "
    "to ~0.05% of pairs on this corpus, 66/59/920 at the three sfs). "
    "Engine side runs ann.range_search_vectorized: ONE mapInPandas "
    "pass over the corpus with the probe matrix in the closure - a "
    "BLAS matmul per Arrow batch generates candidates at tau-slack, "
    "then the exact JVM-fold cosine re-verifies just the candidates "
    "(numpy's summation order never touches the certified value). "
    "Replaced the pure-JVM blocked join after measuring the "
    "interpreted-HOF tax at 86 s for 25M pairs (B12 finding); the "
    "vectorized pass runs ~3 s at sf0.1. At 100 TB probes chunk to "
    "closure size and the LSH prefilter (qd3's path) bounds the "
    "corpus side; this is the bounded-slice exact verifier.",
    tags=("llm", "vector", "range-search"),
)
def ql12_cosine_range_search(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    return (
        ann.range_search_vectorized(
            emb, emb, threshold=0.4, exclude_self=True
        )
        .filter(F.col("probe_id") < F.col("neighbor_id"))
        .select(
            F.col("probe_id").alias("a"),
            F.col("neighbor_id").alias("b"),
            "sim",
        )
        .orderBy("a", "b")
    )


@query(
    "qcont3_semantic_decontamination",
    oracle="""
WITH ev AS (SELECT * FROM embeddings WHERE vec_id % 20 = 0),
tr AS (SELECT * FROM embeddings WHERE vec_id % 20 <> 0),
m AS (SELECT t.vec_id, t.label,
             max(round(list_cosine_similarity(
                   CAST(t.embedding AS DOUBLE[]),
                   CAST(e.embedding AS DOUBLE[])), 5)) AS ms
      FROM tr t, ev e GROUP BY t.vec_id, t.label)
SELECT label, CAST(count(*) AS BIGINT) AS n_train,
       CAST(sum(CASE WHEN ms >= 0.42 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       round(max(ms), 5) AS max_sim
FROM m GROUP BY label ORDER BY label
""",
    doc="qcont3: SEMANTIC decontamination - the embedding-space "
    "companion to qcont1/qcont2's n-gram overlap: flag training "
    "vectors whose max cosine to ANY eval vector (deterministic "
    "eval split: vec_id % 20 = 0) clears tau = 0.42 (calibrated: "
    "flags 1/6/47 at the three sfs - nonzero and small, so the gate "
    "discriminates). Engine: eval side is 5% of the corpus and "
    "BROADCAST, max-sim computed as one map-side pass over the "
    "training rows (greatest over the broadcast eval array - no "
    "shuffle at all before the per-label rollup), then one tiny "
    "groupBy(label). At 100 TB the eval set stays broadcast-sized by "
    "definition (benchmarks are small); this is exactly the "
    "decontamination shape a training pipeline runs before mixing.",
    tags=("llm", "vector", "decontamination", "curation"),
)
def qcont3_semantic_decontamination(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    ev = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("eval_vec"),
    )
    tr = emb.filter(F.col("vec_id") % 20 != 0)
    from sora_spark.functions import vector

    sim = F.round(
        vector.cosine(F.col("embedding"), F.col("eval_vec")), 5
    )
    m = (
        tr.join(F.broadcast(ev))
        .select("vec_id", "label", sim.alias("s"))
        .groupBy("vec_id", "label")
        .agg(F.max("s").alias("ms"))
    )
    return (
        m.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_train"),
            F.sum(F.when(F.col("ms") >= 0.42, 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
            F.round(F.max("ms"), 5).alias("max_sim"),
        )
        .orderBy("label")
    )


@query(
    "qd10_duplicate_passages",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT DISTINCT doc_id,
              w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                   || ' ' || w[i+4] || ' ' || w[i+5] || ' ' || w[i+6]
                   || ' ' || w[i+7] AS p
       FROM (SELECT doc_id, unnest(range(1, greatest(len(w) - 6, 1)))
                      AS i, w
             FROM w)),
df AS (SELECT p, count(*) AS n_docs FROM sh GROUP BY p)
SELECT sh.doc_id,
       CAST(count(*) AS BIGINT) AS n_passages,
       CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       round(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) * 1.0
             / count(*), 5) AS shared_frac
FROM sh JOIN df USING (p)
GROUP BY sh.doc_id ORDER BY sh.doc_id LIMIT 300
""",
    doc="qd10: duplicate-PASSAGE detection - the sub-document dedup "
    "signal the training-data dedup literature runs between "
    "whole-doc exact dedup (ql1) and near-dup (qd2-qd8): every "
    "distinct 8-word passage gets a corpus document-frequency, and "
    "each doc reports what fraction of its passages appear in >= 2 "
    "documents (boilerplate / quoted / templated spans that "
    "whole-doc methods miss entirely). Shapes: in-row shingle "
    "expansion (map-side, slice+concat_ws - zero Python), per-doc "
    "DISTINCT, one corpus doc-frequency groupBy, one equi-join back "
    "keyed by passage - wordcount economics end to end; at 100 TB "
    "the passage key shuffles like any k-mer and the doc-frequency "
    "table partial-aggregates map-side. Integer ratio rounded at "
    "the end only.",
    tags=("llm", "dedup", "passage", "contamination"),
)
def qd10_duplicate_passages(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    w = F.split(F.col("text"), " ")
    # docs under 8 words emit NO passages (the oracle's empty range) —
    # a shorter tail window would silently diverge on short docs
    idx = F.when(
        F.size(w) >= 8, F.sequence(F.lit(1), F.size(w) - 7)
    ).otherwise(F.array().cast("array<int>"))
    passages = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(w, i, 8))
    )
    sh = (
        docs.select("doc_id", F.explode(passages).alias("p"))
        .distinct()
    )
    df = sh.groupBy("p").agg(F.count("*").alias("n_docs"))
    shared = F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
    return (
        sh.join(df, "p")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_passages"),
            shared.cast("bigint").alias("n_shared"),
            F.round(shared / F.count("*"), 5).alias("shared_frac"),
        )
        .orderBy("doc_id")
        .limit(300)
    )


@query(
    "qta21_url_canonicalize",
    oracle="""
WITH raw AS (
  SELECT doc_id, source,
         'https://' || source || '.example.com/docs/' || doc_id
           || '?lang=' || lang AS url
  FROM documents
  UNION ALL
  SELECT doc_id, source,
         'HTTPS://' || upper(source) || '.Example.COM:443/docs/' || doc_id
           || '/?lang=' || lang || '&utm_source=feed#sec' AS url
  FROM documents),
canon AS (
  SELECT doc_id, source,
         url,
         'https://'
           || replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)),
                      ':443', '')
           || regexp_replace(
                regexp_replace(
                  regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^#]*)', 1),
                  '&utm_[^&]*', ''),
                '/[?]', '?') AS curl
  FROM raw)
SELECT source,
       CAST(count(*) AS BIGINT)                 AS n_urls,
       CAST(count(DISTINCT url) AS BIGINT)      AS n_raw_distinct,
       CAST(count(DISTINCT curl) AS BIGINT)     AS n_canon_distinct,
       min(curl)                                AS sample_canonical
FROM canon GROUP BY source ORDER BY source
""",
    doc="qta21: URL canonicalization — the crawl-dedup normalizer "
    "(case-fold scheme+host, strip default :443 port, drop fragment "
    "and utm_* tracking params, collapse the trailing-slash-before-"
    "query variant) run over deterministic clean/messy variant PAIRS "
    "of the same logical URL, so the gate proves actual collisions: "
    "n_canon_distinct must be exactly half of n_raw_distinct per "
    "source, and the canonical string itself is hash-checked "
    "(sample_canonical). Identical RE2-safe regexes both engines (no "
    "lookahead — DuckDB is RE2); host-only case folding, not "
    "whole-URL lowercase, so paths keep their case semantics. "
    "Map-only over the corpus + one aggregation — the cheapest "
    "dedup key a 100 TB crawl pipeline computes before any content "
    "hashing.",
    tags=("llm", "text", "url", "dedup"),
)
def qta21_url_canonicalize(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    did = F.col("doc_id").cast("string")
    clean = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        did, F.lit("?lang="), F.col("lang"),
    )
    messy = F.concat(
        F.lit("HTTPS://"), F.upper("source"),
        F.lit(".Example.COM:443/docs/"), did,
        F.lit("/?lang="), F.col("lang"), F.lit("&utm_source=feed#sec"),
    )
    raw = docs.select(
        "doc_id", "source",
        F.explode(F.array(clean, messy)).alias("url"),
    )
    host = F.regexp_replace(
        F.lower(F.regexp_extract("url", r"^[a-zA-Z]+://([^/?#]+)", 1)),
        ":443",
        "",
    )
    rest = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract("url", r"^[a-zA-Z]+://[^/?#]+([^#]*)", 1),
            "&utm_[^&]*",
            "",
        ),
        "/[?]",
        "?",
    )
    canon = raw.select(
        "source",
        "url",
        F.concat(F.lit("https://"), host, rest).alias("curl"),
    )
    return (
        canon.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_urls"),
            F.countDistinct("url").cast("bigint").alias("n_raw_distinct"),
            F.countDistinct("curl")
            .cast("bigint")
            .alias("n_canon_distinct"),
            F.min("curl").alias("sample_canonical"),
        )
        .orderBy("source")
    )


@query(
    "qta22_language_id_ngram",
    oracle="""
WITH t AS (SELECT doc_id, lang, text, (doc_id % 10 < 8) AS is_train
           FROM documents),
g AS (SELECT doc_id, lang, is_train, substring(text, CAST(i AS INT), 3) AS g
      FROM (SELECT doc_id, lang, is_train, text,
                   unnest(range(1, greatest(length(text) - 1, 1))) AS i
            FROM t)),
prof AS (SELECT lang, g, CAST(count(*) AS DOUBLE) AS cnt
         FROM g WHERE is_train GROUP BY 1, 2),
tot AS (SELECT lang, sum(cnt) AS tot FROM prof GROUP BY 1),
vocab AS (SELECT CAST(count(DISTINCT g) AS DOUBLE) AS v
          FROM g WHERE is_train),
priors AS (SELECT lang,
                  ln(CAST(count(*) AS DOUBLE)
                     / (SELECT count(*) FROM t WHERE is_train)) AS prior
           FROM t WHERE is_train GROUP BY 1),
cands AS (SELECT p.lang AS cand_lang, p.prior, tt.tot, v.v
          FROM priors p JOIN tot tt ON tt.lang = p.lang CROSS JOIN vocab v),
tf AS (SELECT doc_id, lang AS actual_lang, g,
              CAST(count(*) AS DOUBLE) AS tf
       FROM g WHERE NOT is_train GROUP BY 1, 2, 3),
scored AS (SELECT tf.doc_id, tf.actual_lang, c.cand_lang,
                  sum(tf.tf * ln((coalesce(pr.cnt, 0) + 1)
                                 / (c.tot + c.v))) + c.prior AS score
           FROM tf CROSS JOIN cands c
           LEFT JOIN prof pr ON pr.lang = c.cand_lang AND pr.g = tf.g
           GROUP BY tf.doc_id, tf.actual_lang, c.cand_lang, c.prior),
pred AS (SELECT doc_id, actual_lang, cand_lang AS pred_lang,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, cand_lang) AS rn
         FROM scored)
SELECT actual_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM pred WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2
""",
    doc="qta22: character-trigram Naive-Bayes language ID (the "
    "textcat/langid.py design, complementing qta1's stopword "
    "heuristic) — per-language trigram profiles with add-one "
    "smoothing learned on the deterministic doc_id%10<8 train split, "
    "held-out docs scored by log-likelihood + log-prior, argmax with "
    "language-name tie-break; output is the confusion matrix gated "
    "against the fixture's lang column. Unrounded scores order the "
    "argmax on BOTH sides (margins are O(1); cross-engine libm log "
    "drift is ~1e-12, so rounding before ranking would only ADD a "
    "boundary risk). On this fixture lang is independent of text "
    "(all langs share one 31-word vocabulary), so accuracy sits at "
    "the majority-class floor — a fixture property the confusion "
    "matrix exposes honestly; the oracle certifies the classifier "
    "math. Scale: profiles are charset^3-bounded -> broadcast; "
    "corpus work is explode + hash agg, map-side.",
    tags=("llm", "text", "language-id"),
)
def qta22_language_id_ngram(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    pred = textstats.chargram_language_id(docs, n=3, mod=10, train_lt=8)
    return (
        pred.groupBy("actual_lang", "pred_lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("actual_lang", "pred_lang")
    )


@query(
    "qta23_encoding_repair",
    oracle="""
WITH c0 AS (SELECT doc_id, text FROM documents),
c1 AS (SELECT doc_id, text,
              CASE WHEN doc_id % 11 = 0
                   THEN replace(text, ' the ',
                                ' th' || chr(195) || chr(169) || ' ')
                   ELSE text END AS c FROM c0),
c2 AS (SELECT doc_id, text,
              CASE WHEN doc_id % 7 = 0
                   THEN replace(c, 'e', 'e' || chr(769))
                   ELSE c END AS c FROM c1),
c3 AS (SELECT doc_id, text,
              CASE WHEN doc_id % 5 = 0
                   THEN replace(c, ' ', chr(13) || chr(10) || chr(7))
                   ELSE c END AS c FROM c2),
c4 AS (SELECT doc_id, text,
              CASE WHEN doc_id % 3 = 0
                   THEN replace(c, ' ', chr(160))
                   ELSE c END AS c FROM c3),
corrupt AS (SELECT doc_id, text,
                   CASE WHEN doc_id % 2 = 0
                        THEN chr(65279) || c ELSE c END AS c FROM c4),
rep AS (SELECT doc_id, text, c,
  trim(regexp_replace(
    nfc_normalize(
      regexp_replace(
        replace(
          replace(
            replace(
              replace(
                replace(
                  replace(c, chr(195) || chr(169), chr(233)),
                  chr(195) || chr(168), chr(232)),
                chr(195) || chr(164), chr(228)),
              chr(226) || chr(8364) || chr(8482), chr(8217)),
            chr(65279), ''),
          chr(160), ' '),
        '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')),
    '\\s+', ' ', 'g')) AS r
  FROM corrupt)
SELECT doc_id,
       CAST(contains(c, chr(65279)) AS INT)             AS had_bom,
       CAST(contains(c, chr(160)) AS INT)               AS had_nbsp,
       CAST(regexp_matches(c,
            '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]') AS INT) AS had_ctrl,
       CAST(contains(c, chr(13) || chr(10)) AS INT)     AS had_crlf,
       CAST(regexp_matches(c,
            '[' || chr(768) || '-' || chr(879) || ']') AS INT)
                                                        AS had_combining,
       CAST(contains(c, chr(195) || chr(169))
            OR contains(c, chr(195) || chr(168))
            OR contains(c, chr(195) || chr(164))
            OR contains(c, chr(226) || chr(8364) || chr(8482))
            AS INT)                                      AS had_mojibake,
       CASE WHEN doc_id % 7 != 0 AND doc_id % 11 != 0
            THEN CAST((r = text) AS INT) END            AS recovered,
       md5(r)                                           AS repaired_md5
FROM rep ORDER BY doc_id LIMIT 300
""",
    doc="qta23: encoding hygiene — mojibake / BOM / NBSP / control-char "
    "/ CRLF / decomposed-combining-mark detection and repair with NFC "
    "normalization and whitespace canonicalization "
    "(textstats.encoding_repair). The fixture text is clean, so the "
    "query first injects each defect class DETERMINISTICALLY by "
    "doc_id residue (both engines build the identical corrupted "
    "corpus), then repairs; the `recovered` column PROVES the repair "
    "inverts every lossless defect (BOM, NBSP, ctrl+CRLF) back to the "
    "byte-identical original, and md5(repaired) hash-gates the lossy "
    "normalizations (mojibake->é, combining->NFC) cross-engine. "
    "Everything but the NFC step is JVM replace/regexp inside "
    "codegen; NFC is one Arrow pandas UDF (unicodedata vs DuckDB "
    "utf8proc — the same Unicode standard). Map-only at any scale.",
    tags=("llm", "text", "encoding"),
)
def qta23_encoding_repair(spark, sf_dir):
    docs = tables(spark, sf_dir).documents.select("doc_id", "text")
    d = F.col("doc_id")
    c = F.col("text")
    c = F.when(
        d % 11 == 0, F.replace(c, F.lit(" the "), F.lit(" thÃ© "))
    ).otherwise(c)
    c = F.when(
        d % 7 == 0, F.replace(c, F.lit("e"), F.lit("e\u0301"))
    ).otherwise(c)
    c = F.when(
        d % 5 == 0, F.replace(c, F.lit(" "), F.lit("\r\n\x07"))
    ).otherwise(c)
    c = F.when(
        d % 3 == 0, F.replace(c, F.lit(" "), F.lit("\u00a0"))
    ).otherwise(c)
    c = F.when(d % 2 == 0, F.concat(F.lit("\ufeff"), c)).otherwise(c)
    corrupted = docs.select("doc_id", F.col("text").alias("orig"),
                            c.alias("text"))
    rep = textstats.encoding_repair(corrupted)
    lossless = (d % 7 != 0) & (d % 11 != 0)
    return rep.select(
        "doc_id",
        F.col("had_bom").cast("int").alias("had_bom"),
        F.col("had_nbsp").cast("int").alias("had_nbsp"),
        F.col("had_ctrl").cast("int").alias("had_ctrl"),
        F.col("had_crlf").cast("int").alias("had_crlf"),
        F.col("had_combining").cast("int").alias("had_combining"),
        F.col("had_mojibake").cast("int").alias("had_mojibake"),
        F.when(lossless, (F.col("repaired") == F.col("orig")).cast("int"))
        .alias("recovered"),
        F.md5("repaired").alias("repaired_md5"),
    ).orderBy("doc_id").limit(300)


# qta24's vocabulary cap. JS over the global TOP-K tokens plus one
# "OTHER" residual bucket per distribution — a valid drift monitor
# (truncated+remainder distributions are still distributions, and a
# source whose drift lives in the tail shows up as OTHER-mass drift).
# Broadcasting the FULL vocabulary into the grid is rejected: under
# Heaps' law the distinct-token table of a 100 TB crawl is billions
# of rows and that broadcast OOMs the driver. K=16 is deliberately
# BELOW the fixture's 31-token
# vocabulary so the truncation + OTHER-bucket semantics are
# oracle-certified, not just written; production monitors would run
# K in the tens of thousands — the grid stays K x sources either way.
_QTA24_TOP_K = 16


@query(
    "qta24_source_divergence",
    oracle="""
WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w
           FROM documents),
wc AS (SELECT source, w, CAST(count(*) AS DOUBLE) AS c
       FROM w WHERE len(w) > 0 GROUP BY 1, 2),
st AS (SELECT source, sum(c) AS n_s FROM wc GROUP BY 1),
g AS (SELECT w, sum(c) AS cg FROM wc GROUP BY 1),
gt AS (SELECT sum(cg) AS n, count(*) AS n_vocab FROM g),
top AS (SELECT w, cg FROM g ORDER BY cg DESC, w LIMIT 16),
tt AS (SELECT sum(cg) AS cg_top FROM top),
grid AS (SELECT st.source, st.n_s, top.w, top.cg, gt.n,
                coalesce(wc.c, 0) AS c
         FROM st CROSS JOIN top CROSS JOIN gt
         LEFT JOIN wc ON wc.source = st.source AND wc.w = top.w),
terms AS (SELECT source, n_s, c,
                 c / n_s AS p, cg / n AS q,
                 (c / n_s + cg / n) / 2 AS m
          FROM grid),
topagg AS (SELECT source, any_value(n_s) AS n_s, sum(c) AS c_top,
                  sum(CASE WHEN p > 0 THEN 0.5 * p * ln(p / m) ELSE 0 END
                      + CASE WHEN q > 0 THEN 0.5 * q * ln(q / m) ELSE 0 END)
                      AS js_top
           FROM terms GROUP BY source),
other AS (SELECT t.source, t.n_s, t.js_top,
                 (t.n_s - t.c_top) / t.n_s AS p,
                 (gt.n - tt.cg_top) / gt.n AS q,
                 gt.n_vocab
          FROM topagg t CROSS JOIN gt CROSS JOIN tt)
SELECT source,
       CAST(n_s AS BIGINT) AS n_tokens,
       round(js_top
             + CASE WHEN p > 0
                    THEN 0.5 * p * ln(p / ((p + q) / 2)) ELSE 0 END
             + CASE WHEN q > 0
                    THEN 0.5 * q * ln(q / ((p + q) / 2)) ELSE 0 END,
             6) AS js_divergence,
       CAST(n_vocab AS BIGINT) AS n_vocab,
       CAST(least(16, n_vocab) AS BIGINT) AS vocab_kept
FROM other ORDER BY source
""",
    doc="qta24: per-source Jensen-Shannon divergence from the corpus "
    "unigram distribution — the 'which source went bad' monitor a "
    "curation pipeline runs before mixing (a scraper regression, "
    "template flood or language drift shows as a JS spike long "
    "before downstream evals move). Complements qdrift1 (numeric "
    "histogram L1): this one is over TEXT distributions. Shape "
    "(no full-vocab broadcast — a 100 TB "
    "scale-killer under Heaps' law): one wordcount pass, then JS "
    "over the global TOP-K vocabulary (TakeOrderedAndProject — "
    "map-side partial top-K, never a full sort) plus an explicit "
    "OTHER residual bucket holding the tail mass of each "
    "distribution. Only the K-row top table and two scalar "
    "aggregates broadcast; the grid is K x sources. The truncation "
    "is not silent: n_vocab and vocab_kept ride in every result row "
    "(no-silent-caps rule). Tie-break at the K boundary is (count "
    "DESC, token ASC) on both engines. 0 ln 0 = 0 handled "
    "explicitly for p and q (q can be 0 in the OTHER bucket when "
    "K >= vocab). Final sum rounded to 6dp (the repo's standard "
    "float-order guard).",
    tags=("llm", "text", "drift", "curation"),
)
def qta24_source_divergence(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return textstats.source_divergence(docs, top_k=_QTA24_TOP_K)


# ---- set-up shared by the index-writing queries ------------------------


def _probe_top3(spark, path, emb, n_probe, where=None):
    """Top-3 neighbors of vectors 0..19 from the IVF index at `path`,
    `n_probe` lists probed (every list: the brute-force answer)."""
    probes = emb.filter(F.col("vec_id") < 20)
    return ann.ivf_topk_indexed(
        spark, path, probes, k=3, n_probe=n_probe, where=where
    ).orderBy("probe_id", "rn")


def _split_text_index(docs, name, positions=False):
    """A postings index in the fresh directory `name`: built from the
    doc_id % 4 != 0 documents with the other quarter appended, so
    serving from it also certifies incremental ingest. Returns the
    index path."""
    path = os.path.join(fresh_dir(name), "index")
    textindex.write_text_index(
        docs.filter(F.col("doc_id") % 4 != 0), path, n_buckets=16,
        positions=positions)
    textindex.append_to_text_index(
        docs.filter(F.col("doc_id") % 4 == 0), path)
    return path


@query(
    "qix5_ivfpq_exhaustive_probe",
    oracle="""
WITH s AS (
  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(p.embedding AS DOUBLE[])), 5) AS sim
  FROM embeddings p, embeddings e
  WHERE p.vec_id < 20 AND e.vec_id <> p.vec_id),
r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM s)
SELECT probe_id, CAST(rn AS INT) AS rn, neighbor_id, sim
FROM r WHERE rn <= 3 ORDER BY probe_id, rn
""",
    doc="qix5: the IVF-PQ index (llm/ann.py write_ivfpq_index / "
    "ivfpq_topk_indexed — inverted lists store m_subs=4 PQ codes + a "
    "norm per vector, 512 B -> 4 B of codes at dim 64; probe = ADC "
    "lookup-table pruning inside partition-pruned candidate lists, "
    "then EXACT rounded-cosine re-rank of the ADC-best candidates "
    "joined back to the corpus). Hash-gated through the exhaustive "
    "configuration: every list probed, refine unbounded, so the "
    "output must equal the brute-force kNN oracle EXACTLY — this "
    "certifies the whole pipeline (index write, code storage, LUT "
    "arithmetic reaching all candidates, re-rank join, rank/tiebreak) "
    "with zero approximation slack; the recall-vs-refine pruning "
    "trade is measured separately (tests/test_llm.py, recall >= 0.9 "
    "at a 2/16 scan with refine=4). The ADC stage can only PRUNE — "
    "emitted sims always come from the exact re-rank, so approximation "
    "moves recall, never values (the certified-filter/pruner split "
    "ql12 uses).",
    tags=("llm", "vector", "index", "pq", "ann"),
)
def qix5_ivfpq_exhaustive_probe(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    probes = emb.filter(F.col("vec_id") < 20)
    path = os.path.join(fresh_dir("ivfpq_emb"), "index")
    ann.write_ivfpq_index(
        emb, path, n_centroids=16, m_subs=4, n_codes=16, iters=2
    )
    return ann.ivfpq_topk_indexed(
        spark, path, emb, probes, k=3, n_probe=16, refine=10**6
    ).orderBy("probe_id", "rn")


@query(
    "qix6_ivf_incremental_append",
    oracle="""
WITH s AS (
  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(p.embedding AS DOUBLE[])), 5) AS sim
  FROM embeddings p, embeddings e
  WHERE p.vec_id < 20 AND e.vec_id <> p.vec_id),
r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM s)
SELECT probe_id, CAST(rn AS INT) AS rn, neighbor_id, sim
FROM r WHERE rn <= 3 ORDER BY probe_id, rn
""",
    doc="qix6: INCREMENTAL index ingest (llm/ann.py "
    "append_to_ivf_index): the index is built from only 3/4 of the "
    "corpus (vec_id % 4 != 0), the remaining quarter is APPENDED — "
    "assigned with the stored frozen codebook and written as extra "
    "part-files inside the existing _cid= partition directories, "
    "never rebuilding or re-reading the index — and the exhaustive "
    "probe (every list, so zero approximation slack) must equal the "
    "brute-force kNN oracle over the FULL corpus. That certifies "
    "appended vectors are immediately searchable through the "
    "unchanged partition-pruned read path, with identical quantizer "
    "arithmetic, norms, ranking, and tiebreaks. Streaming-ingest "
    "shape: cost is one assignment pass over the NEW vectors only; "
    "frozen-centroid drift is monitored by ivf_index_stats (pinned "
    "with the two-level layout in tests/test_llm.py).",
    tags=("llm", "vector", "index", "ann", "ingest"),
)
def qix6_ivf_incremental_append(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    base = emb.filter(F.col("vec_id") % 4 != 0)
    extra = emb.filter(F.col("vec_id") % 4 == 0)
    path = os.path.join(fresh_dir("ivf_append_emb"), "index")
    ann.write_ivf_index(base, path, n_centroids=16, iters=2)
    ann.append_to_ivf_index(extra, path)
    return _probe_top3(spark, path, emb, n_probe=16)


@query(
    "qd11_crossdoc_span_scrub",
    oracle="""
WITH tok AS (SELECT doc_id AS id, i - 1 AS pos, w[CAST(i AS INT)] AS w
             FROM (SELECT doc_id, string_split(text, ' ') AS w
                   FROM documents),
                  unnest(range(1, len(w) + 1)) AS t(i)),
g AS (SELECT id, pos, w,
        w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
          || ' ' || lead(w, 3) OVER win || ' ' || lead(w, 4) OVER win
          || ' ' || lead(w, 5) OVER win || ' ' || lead(w, 6) OVER win
          || ' ' || lead(w, 7) OVER win AS gram,
        lead(w, 7) OVER win IS NOT NULL AS ok
      FROM tok WINDOW win AS (PARTITION BY id ORDER BY pos)),
occ AS (SELECT id, pos, gram FROM g WHERE ok),
st AS (SELECT gram, count(DISTINCT id) AS nd,
              min(id * 1000000000 + pos) AS fe
       FROM occ GROUP BY gram),
dup AS (SELECT o.id, o.pos FROM occ o JOIN st USING (gram)
        WHERE nd >= 2 AND o.id * 1000000000 + o.pos <> fe),
cov AS (SELECT DISTINCT id, pos + j AS pos
        FROM dup, unnest(range(0, 8)) AS r(j)),
kept AS (SELECT t.id, t.pos, t.w FROM tok t
         LEFT JOIN cov c ON t.id = c.id AND t.pos = c.pos
         WHERE c.id IS NULL),
reb AS (SELECT id, string_agg(w, ' ' ORDER BY pos) AS ct,
               count(*) AS nk
        FROM kept GROUP BY id),
tot AS (SELECT id, count(*) AS nt FROM tok GROUP BY id)
SELECT tot.id, coalesce(ct, '') AS clean_text,
       CAST(coalesce(nk, 0) AS BIGINT) AS n_kept,
       CAST(nt - coalesce(nk, 0) AS BIGINT) AS n_removed
FROM tot LEFT JOIN reb USING (id) ORDER BY id
""",
    doc="qd11: cross-document duplicated-SPAN removal "
    "(textstats.crossdoc_span_scrub) — the REMOVAL transform behind "
    "qd10's detection signal, the training-data literature's "
    "ExactSubstr dedup re-expressed as an 8-gram cover (the "
    "Spark-native stand-in for a distributed suffix array; it "
    "over-marks a boundary of at most n-1 tokens per span): every "
    "8-word passage occurring in >= 2 docs is scrubbed from every "
    "position except its globally-first occurrence (min (doc, pos), "
    "encoded as one bigint so both engines share the tiebreak), and "
    "the text is rebuilt from surviving tokens; fully-scrubbed docs "
    "surface with empty clean_text rather than vanishing. Cleaned "
    "strings hash character-for-character against the oracle. Shapes: "
    "per-doc window leads (keyed by doc), ONE corpus gram groupBy "
    "(wordcount economics), equi-join back, bounded x8 coverage "
    "explode, left-anti join on (doc, pos) — no Python, no driver "
    "state; intra-doc-only repetition is qta11's job and is "
    "deliberately untouched here.",
    tags=("llm", "dedup", "passage", "transform"),
)
def qd11_crossdoc_span_scrub(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    return textstats.crossdoc_span_scrub(docs, n=8).orderBy("id")


@query(
    "qix7_ivfpq_incremental_append",
    oracle="""
WITH s AS (
  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(p.embedding AS DOUBLE[])), 5) AS sim
  FROM embeddings p, embeddings e
  WHERE p.vec_id < 20 AND e.vec_id <> p.vec_id),
r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM s)
SELECT probe_id, CAST(rn AS INT) AS rn, neighbor_id, sim
FROM r WHERE rn <= 3 ORDER BY probe_id, rn
""",
    doc="qix7: incremental ingest into the IVF-PQ index "
    "(append_to_ivf_index auto-detects the _pq sidecar): the index "
    "is built from 3/4 of the corpus, the appended quarter is "
    "assigned with the stored frozen coarse codebook AND "
    "product-quantized with the stored per-subspace codebooks — "
    "appended rows are (id, codes, norm, cid), paying the same "
    "~128x byte shrink as the build — and the exhaustive probe "
    "(every list, refine unbounded) must equal the brute-force kNN "
    "oracle over the FULL corpus, certifying quantizer + code "
    "arithmetic parity between build and ingest with zero "
    "approximation slack (ADC can only PRUNE; sims come from the "
    "exact re-rank). Streaming-ingest economics: one assignment + "
    "encode pass over the NEW vectors only.",
    tags=("llm", "vector", "index", "pq", "ann", "ingest"),
)
def qix7_ivfpq_incremental_append(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    base = emb.filter(F.col("vec_id") % 4 != 0)
    extra = emb.filter(F.col("vec_id") % 4 == 0)
    path = os.path.join(fresh_dir("ivfpq_append_emb"), "index")
    ann.write_ivfpq_index(
        base, path, n_centroids=16, m_subs=4, n_codes=16, iters=2
    )
    ann.append_to_ivf_index(extra, path)
    probes = emb.filter(F.col("vec_id") < 20)
    return ann.ivfpq_topk_indexed(
        spark, path, emb, probes, k=3, n_probe=16, refine=10**6
    ).orderBy("probe_id", "rn")


@query(
    "qta25_readability",
    oracle="""
WITH m AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
           AS n_sentences,
         len(regexp_extract_all(lower(text), '[aeiouy]+'))
           AS n_syllables
  FROM documents),
s AS (
  SELECT doc_id, n_words,
         CAST(n_sentences AS BIGINT) AS n_sentences,
         CAST(n_syllables AS BIGINT) AS n_syllables,
         round(206.835 - 1.015 * (round(n_words * 1.0 / n_sentences, 6))
                       - 84.6 * (round(n_syllables * 1.0 / n_words, 6)),
               4) AS flesch,
         round(0.39 * (round(n_words * 1.0 / n_sentences, 6))
               + 11.8 * (round(n_syllables * 1.0 / n_words, 6))
               - 15.59, 4) AS fk_grade
  FROM m WHERE n_words > 0)
SELECT doc_id, n_words, n_sentences, n_syllables, flesch, fk_grade
FROM s ORDER BY doc_id
""",
    doc="qta25: READABILITY metrics per document — Flesch reading "
    "ease + Flesch-Kincaid grade with the standard deterministic "
    "proxy pipeline: words = the repo's shared whitespace tokenizer, "
    "sentences = runs of [.!?] (floored at 1 so fragment docs score "
    "instead of dividing by zero), syllables = vowel-GROUP count "
    "([aeiouy]+ runs, the classic cheap estimator — stated proxy, "
    "not hidden). Both ratio terms are pre-rounded before the blend "
    "so the affine combination sums bitwise-identical doubles in "
    "both engines (the qta2 1-ulp lesson). Shapes: one map-side "
    "projection, three regexp passes per doc, zero shuffles before "
    "the sort — the cheapest possible quality-gate feature at "
    "100 TB, and the usual companion to qta17's gates.",
    tags=("llm", "text", "quality"),
)
def qta25_readability(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    n_words = F.size(F.split(F.col("text"), " "))
    n_sentences = F.greatest(
        F.size(F.expr(r"regexp_extract_all(text, '[.!?]+', 0)")),
        F.lit(1),
    )
    n_syllables = F.size(
        F.expr(r"regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    )
    wps = F.round(n_words * F.lit(1.0) / n_sentences, 6)
    spw = F.round(n_syllables * F.lit(1.0) / n_words, 6)
    return (
        docs.select(
            "doc_id",
            n_words.alias("n_words"),
            n_sentences.cast("bigint").alias("n_sentences"),
            n_syllables.cast("bigint").alias("n_syllables"),
            F.round(206.835 - 1.015 * wps - 84.6 * spw, 4).alias("flesch"),
            F.round(0.39 * wps + 11.8 * spw - 15.59, 4).alias("fk_grade"),
        )
        .filter(F.col("n_words") > 0)
        .orderBy("doc_id")
    )


@query(
    "qm7_patch_grid",
    oracle="""
WITH b AS (
  SELECT doc_id, lower(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents WHERE doc_id % 37 = 0),
dims AS (
  SELECT doc_id, hx, CAST(n // 16 AS BIGINT) AS n_rows FROM b),
grid AS (
  SELECT doc_id, hx, pr, pc
  FROM dims,
       unnest(range(0, CAST(n_rows // 4 AS BIGINT))) AS r(pr),
       unnest(range(0, 4)) AS c(pc)),
patch AS (
  SELECT doc_id, pr, pc,
         substr(hx, CAST(((pr*4+0)*16 + pc*4)*2 + 1 AS BIGINT), 8) ||
         substr(hx, CAST(((pr*4+1)*16 + pc*4)*2 + 1 AS BIGINT), 8) ||
         substr(hx, CAST(((pr*4+2)*16 + pc*4)*2 + 1 AS BIGINT), 8) ||
         substr(hx, CAST(((pr*4+3)*16 + pc*4)*2 + 1 AS BIGINT), 8)
           AS phex
  FROM grid)
SELECT doc_id, CAST(pr AS BIGINT) AS pr, CAST(pc AS BIGINT) AS pc,
       md5(phex) AS patch_md5
FROM patch ORDER BY doc_id, pr, pc LIMIT 500
""",
    doc="qm7: ViT-style PATCH-GRID extraction over opaque binary "
    "payloads — the multimodal plumbing step between qm2's 1-D frame "
    "sampling and a real vision encoder: the payload is treated as a "
    "row-major 16-bytes-per-row raster, tiled into 4x4-byte patches, "
    "and each patch's STRIDED 2-D slice (four non-contiguous row "
    "segments, gathered and concatenated) is fingerprinted — "
    "certifying exact offset arithmetic, stride math, and byte-level "
    "gather, the part of patch embedding Spark must get right before "
    "any decoder runs (the decode itself stays a stub per the "
    "container's no-image-libs contract). Both engines address bytes "
    "through the lower-hex encoding (qm5's established idiom; DuckDB "
    "1.0 has no BLOB substring). All JVM string ops: hex once per "
    "doc, then slice/concat/md5 per patch — map-side, zero Python, "
    "zero shuffles before the sort; patches-per-doc is bounded by "
    "payload size, and at 100 TB each doc's grid explodes locally "
    "exactly like qd10's shingles.",
    tags=("llm", "multimodal", "binary"),
)
def qm7_patch_grid(spark, sf_dir):
    docs = tables(spark, sf_dir).documents.filter(
        F.col("doc_id") % 37 == 0)
    b = docs.select(
        "doc_id",
        F.lower(F.hex(F.encode(F.col("text"), "UTF-8"))).alias("hx"),
        F.floor(
            F.octet_length(F.encode(F.col("text"), "UTF-8")) / 16
        ).alias("n_rows"),
    )
    grid = (
        b.withColumn(
            "pr",
            F.explode(
                F.when(
                    F.col("n_rows") >= 4,
                    F.sequence(
                        F.lit(0).cast("bigint"),
                        (F.floor(F.col("n_rows") / 4) - 1).cast("bigint"),
                    ),
                ).otherwise(F.array().cast("array<bigint>"))
            ),
        )
        .withColumn("pc", F.explode(F.array(*[F.lit(i).cast("bigint")
                                              for i in range(4)])))
    )
    seg = [
        F.substring(
            F.col("hx"),
            (((F.col("pr") * 4 + k) * 16 + F.col("pc") * 4) * 2 + 1)
            .cast("int"),
            8,
        )
        for k in range(4)
    ]
    return (
        grid.select(
            "doc_id", "pr", "pc",
            F.md5(F.concat(*seg)).alias("patch_md5"),
        )
        .orderBy("doc_id", "pr", "pc")
        .limit(500)
    )


@query(
    "qix8_bm25_indexed",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
consts AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ('spark', 'vector', 'window')
       GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT t.doc_id,
         round(ln(((c.n_docs - f.df + 0.5) / (f.df + 0.5)) + 1.0)
               * ((t.tf * 2.2)
                  / (t.tf + 1.2 * (0.25 + (0.75 * d.dl) / c.avgdl))),
               6) AS contrib
  FROM tf t JOIN dl d USING (doc_id)
  CROSS JOIN consts c JOIN dfreq f USING (term))
SELECT doc_id, round(sum(contrib), 6) AS score
FROM scored GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20
""",
    doc="qix8: BM25 served from the ON-DISK postings index "
    "(llm/textindex.py write_text_index / bm25_topk_indexed — the "
    "text-search twin of the IVF vector index): postings (term, doc, "
    "tf, dl — doc length DENORMALIZED into the posting, the Lucene "
    "norms trick, so scoring never joins a length table) live "
    "Hive-partitioned by term-hash bucket; the fixed query {spark, "
    "vector, window} reads <= 3 of 16 bucket directories (file-level "
    "partition pruning, plan-pinned) with term IN pushed into those "
    "scans, and everything after the scan is |matching postings| "
    "sized. Arithmetic is bit-compatible with qix3's from-scratch "
    "scorer — same Lucene idf, same k1/b, contributions rounded 6dp "
    "before the per-doc sum — so the oracle is qix3's own SQL and "
    "any drift between build-time and query-time arithmetic is a "
    "hash mismatch. df comes from the vocabulary-sized _terms "
    "sidecar — written partitioned by the SAME term-hash bucket "
    "(multi-task, and the lookup prunes to the query terms' buckets) "
    "— and the corpus constants from a single-row _consts "
    "sidecar.",
    tags=("llm", "text", "index", "ranking"),
)
def qix8_bm25_indexed(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    path = os.path.join(fresh_dir("text_index_docs"), "index")
    textindex.write_text_index(docs, path, n_buckets=16)
    return textindex.bm25_topk_indexed(
        spark, path, ["spark", "vector", "window"], top_k=20
    )


@query(
    "qix9_text_index_append",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
consts AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ('spark', 'vector', 'window')
       GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT t.doc_id,
         round(ln(((c.n_docs - f.df + 0.5) / (f.df + 0.5)) + 1.0)
               * ((t.tf * 2.2)
                  / (t.tf + 1.2 * (0.25 + (0.75 * d.dl) / c.avgdl))),
               6) AS contrib
  FROM tf t JOIN dl d USING (doc_id)
  CROSS JOIN consts c JOIN dfreq f USING (term))
SELECT doc_id, round(sum(contrib), 6) AS score
FROM scored GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20
""",
    doc="qix9: incremental ingest into the postings index "
    "(textindex.append_to_text_index — completing the ingest story "
    "across all three on-disk indexes: IVF qix6, IVF-PQ qix7, "
    "postings here): the index is built from 3/4 of the corpus, the "
    "remaining quarter's postings land as extra part-files inside "
    "the existing term-bucket partitions, and the df/consts sidecars "
    "update via EXACT integer merges (per-term df adds; the "
    "constants store mergeable moments (n_docs, sum_dl) rather than "
    "avgdl, so the merged average is bit-identical to the "
    "from-scratch one). The served query must therefore equal the "
    "FULL-corpus from-scratch BM25 oracle exactly — global "
    "statistics (idf, avgdl) are where naive index appends silently "
    "go stale, and any staleness here is a hash mismatch. Appended "
    "doc_ids must be new (BM25 is nonlinear in tf; contract "
    "documented on the operator).",
    tags=("llm", "text", "index", "ranking", "ingest"),
)
def qix9_text_index_append(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    path = _split_text_index(docs, "text_index_append")
    return textindex.bm25_topk_indexed(
        spark, path, ["spark", "vector", "window"], top_k=20
    )


@query(
    "qix10_phrase_from_index",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
SELECT doc_id FROM t
WHERE len(list_filter(range(1, len(w)),
          i -> w[CAST(i AS INT)] = 'the'
           AND w[CAST(i AS INT) + 1] = 'data')) > 0
ORDER BY doc_id
""",
    doc="qix10: exact-PHRASE query served from the POSITIONAL "
    "postings index (textindex write_text_index(positions=True) / "
    "phrase_docs_indexed): each posting stores its sorted in-doc "
    "position array (the Lucene positions trade — one int per "
    "token), and the phrase check is the classic positional "
    "intersection fold (cand+1 ∩ next term's positions), all JVM "
    "array functions, candidate-doc sized after the first join — no "
    "text rescan. The index is built from 3/4 of the corpus and the "
    "rest APPENDED (positional append path), so the row also "
    "certifies positional ingest; reads prune to the phrase terms' "
    "hash buckets exactly like qix8. Oracle verifies from the raw "
    "token arrays; qix2 is the from-scratch twin of this query.",
    tags=("llm", "text", "index", "phrase", "ingest"),
)
def qix10_phrase_from_index(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    path = _split_text_index(docs, "text_index_pos", positions=True)
    return textindex.phrase_docs_indexed(spark, path, ["the", "data"])


@query(
    "qix11_text_index_delete",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents WHERE doc_id % 4 <> 0),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
consts AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ('spark', 'vector', 'window')
       GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT t.doc_id,
         round(ln(((c.n_docs - f.df + 0.5) / (f.df + 0.5)) + 1.0)
               * ((t.tf * 2.2)
                  / (t.tf + 1.2 * (0.25 + (0.75 * d.dl) / c.avgdl))),
               6) AS contrib
  FROM tf t JOIN dl d USING (doc_id)
  CROSS JOIN consts c JOIN dfreq f USING (term))
SELECT doc_id, round(sum(contrib), 6) AS score
FROM scored GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20
""",
    doc="qix11: DOCUMENT DELETION from the postings index "
    "(textindex.delete_from_text_index — the GDPR-removal path, "
    "the qix9 ingest merge run in reverse): the "
    "index is built over the FULL corpus, the doc_id%4=0 quarter is "
    "deleted — survivors-only rewrite of just the touched term-hash "
    "buckets via dynamic partition overwrite, plus EXACT integer "
    "sidecar merges (per-term df decrements, terms reaching 0 drop "
    "out; n_docs/sum_dl subtract the deleted docs' snapshot) — and "
    "the served query must equal the from-scratch BM25 oracle over "
    "the SURVIVING corpus exactly. Global statistics (idf, avgdl) "
    "are where naive index deletes silently go stale: any staleness "
    "here is a hash mismatch, never drift. Cost tracks the touched "
    "buckets + the deleted docs' postings, never the corpus; a crash "
    "between rewrite and sidecar merge recovers via "
    "rebuild_sidecars (postings are the only data of record).",
    tags=("llm", "text", "index", "ranking", "delete"),
)
def qix11_text_index_delete(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    path = os.path.join(fresh_dir("text_index_delete"), "index")
    textindex.write_text_index(docs, path, n_buckets=16)
    textindex.delete_from_text_index(
        spark, path, docs.filter(F.col("doc_id") % 4 == 0).select("doc_id")
    )
    return textindex.bm25_topk_indexed(
        spark, path, ["spark", "vector", "window"], top_k=20
    )


@query(
    "qix12_ivf_index_delete",
    oracle="""
WITH s AS (
  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(p.embedding AS DOUBLE[])), 5) AS sim
  FROM embeddings p, embeddings e
  WHERE p.vec_id < 20 AND e.vec_id <> p.vec_id AND e.vec_id % 4 <> 0),
r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM s)
SELECT probe_id, CAST(rn AS INT) AS rn, neighbor_id, sim
FROM r WHERE rn <= 3 ORDER BY probe_id, rn
""",
    doc="qix12: VECTOR DELETION from the on-disk IVF index "
    "(llm/ann.py delete_from_ivf_index — the removal twin of qix6's "
    "append): the index is built over the full "
    "corpus, the vec_id%4=0 quarter is deleted — survivors-only "
    "rewrite of just the touched _cid inverted lists via dynamic "
    "partition overwrite, fully-emptied lists removed explicitly, "
    "codebook untouched (frozen-centroid contract; IVF has no "
    "corpus-global statistics to go stale, unlike BM25) — and the "
    "exhaustive probe (every list, zero approximation slack) must "
    "equal the brute-force kNN oracle over the SURVIVING corpus: "
    "identical quantizer arithmetic, norms, ranking, and tiebreaks, "
    "with no deleted vector ever surfacing as a neighbor. Cost "
    "tracks the touched lists, never the index — at 100 TB a "
    "targeted removal rewrites a few inverted lists, not the "
    "corpus.",
    tags=("llm", "vector", "index", "ann", "delete"),
)
def qix12_ivf_index_delete(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    path = os.path.join(fresh_dir("ivf_delete_emb"), "index")
    ann.write_ivf_index(emb, path, n_centroids=16, iters=2)
    ann.delete_from_ivf_index(
        spark, path, emb.filter(F.col("vec_id") % 4 == 0).select("vec_id")
    )
    return _probe_top3(spark, path, emb, n_probe=16)


@query(
    "qix13_ivf_list_split",
    oracle="""
WITH s AS (
  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(p.embedding AS DOUBLE[])), 5) AS sim
  FROM embeddings p, embeddings e
  WHERE p.vec_id < 20 AND e.vec_id <> p.vec_id),
r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM s)
SELECT probe_id, CAST(rn AS INT) AS rn, neighbor_id, sim
FROM r WHERE rn <= 3 ORDER BY probe_id, rn
""",
    doc="qix13: INCREMENTAL LIST SPLIT (llm/ann.py split_ivf_list — "
    "the maintenance op completing the index lifecycle: build qix5, "
    "ingest qix6/qix7/qix9, delete qix11/qix12, REBALANCE here): "
    "when streaming appends drift a frozen-centroid list far past "
    "the median (ivf_index_stats' ~4x rebuild trigger), the hot list "
    "alone is split — local 2-means over its own vectors, rewrite of "
    "that one partition into two (old cid + max+1, keeping the "
    "codebook contiguous for the flat probe's position mapping), one "
    "codebook row becoming two — never a full rebuild. The index is "
    "built at 8 lists, the LARGEST is split, and the exhaustive "
    "probe must still equal the brute-force kNN oracle exactly: "
    "assignment only decides which list holds a vector, so any "
    "sidecar/partition inconsistency the split could introduce (a "
    "vector lost between partitions, a stale centroid row, a broken "
    "cid mapping) is a hash mismatch. Balance improvement, the "
    "two-level layout (new leaf inherits the branch), and the PQ "
    "refusal are pinned in tests/test_llm.py::test_split_ivf_list. "
    "Cost tracks the hot list, never the index.",
    tags=("llm", "vector", "index", "ann", "maintenance"),
)
def qix13_ivf_list_split(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    path = os.path.join(fresh_dir("ivf_split_emb"), "index")
    ann.write_ivf_index(emb, path, n_centroids=8, iters=2)
    stats = {
        int(r["_cid"]): int(r["n_vectors"])
        for r in ann.ivf_index_stats(spark, path).collect()
    }
    hot = max(stats, key=lambda c: (stats[c], -c))  # deterministic tie
    ann.split_ivf_list(spark, path, hot)
    return _probe_top3(spark, path, emb, n_probe=9)


@query(
    "qix17_ivf_maintenance",
    oracle="""
WITH uni AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))
  FROM embeddings),
s AS (
  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(
             e.v, CAST(p.embedding AS DOUBLE[])), 5) AS sim
  FROM embeddings p, uni e
  WHERE p.vec_id < 20 AND e.vec_id <> p.vec_id),
r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM s)
SELECT probe_id, CAST(rn AS INT) AS rn, neighbor_id, sim
FROM r WHERE rn <= 3 ORDER BY probe_id, rn
""",
    doc="qix17: IVF MAINTENANCE POLICY (llm/ann.py "
    "maintain_ivf_index — wiring qix13's manual "
    "split into the documented ~4x drift trigger as ONE idempotent "
    "operation): the index is built at 8 lists, then a genuinely "
    "DRIFTING ingest lands — every corpus vector abs-mapped into the "
    "positive orthant (ids +100000), concentrating the appended mass "
    "in the one or two lists whose frozen centroids face that "
    "orthant, the exact failure mode streaming appends cause. "
    "maintain_ivf_index reads ivf_index_stats and splits the largest "
    "over-trigger list repeatedly (stats re-read each round — the "
    "median moves as the codebook grows) until no list exceeds 4x "
    "median; re-running is a no-op (idempotence, balance restoration, "
    "split-actually-happened, recall-after-maintenance and the PQ/"
    "degenerate rebuild_recommended paths are all pinned in "
    "tests/test_llm.py::test_maintain_ivf_index). The declared gate "
    "is exactness: an exhaustive probe of the MAINTAINED index must "
    "equal the brute-force kNN SQL over the union corpus — any "
    "vector lost or duplicated across the split partitions, stale "
    "codebook row, or broken cid mapping is a hash mismatch. At "
    "100 TB this is the nightly index job: cost tracks the drifted "
    "lists, never the index.",
    tags=("llm", "vector", "index", "ann", "maintenance"),
)
def qix17_ivf_maintenance(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    path = os.path.join(fresh_dir("ivf_maintain_emb"), "index")
    ann.write_ivf_index(emb, path, n_centroids=8, iters=2)
    drifted = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: F.abs(x)).alias("embedding"),
    )
    ann.append_to_ivf_index(drifted, path)
    rep = ann.maintain_ivf_index(spark, path)
    return _probe_top3(spark, path, emb, n_probe=rep["n_lists"])


@query(
    "qix18_ivf_rebuild",
    oracle="""
WITH v0 AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id = 0),
dup AS (
  SELECT 200000 + i AS vec_id, (SELECT v FROM v0) AS v
  FROM unnest(range(0, (SELECT count(*) FROM embeddings))) AS t(i)),
uni AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id, v FROM dup),
s AS (
  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(
             e.v, CAST(p.embedding AS DOUBLE[])), 5) AS sim
  FROM embeddings p, uni e
  WHERE p.vec_id < 20 AND e.vec_id <> p.vec_id),
r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM s)
SELECT probe_id, CAST(rn AS INT) AS rn, neighbor_id, sim
FROM r WHERE rn <= 3 ORDER BY probe_id, rn
""",
    doc="qix18: CLOSED-LOOP REBUILD (llm/ann.py rebuild_ivf_index — "
    "acting on the rebuild_recommended flag qix17's maintenance "
    "loop can only raise): the index is "
    "built at 8 lists, then a corpus-sized mass of IDENTICAL vectors "
    "(every one a copy of vec 0's embedding, ids 200000+) lands via "
    "append — the documented degenerate drift a split cannot fix "
    "(2-means over identical points collapses). maintain_ivf_index "
    "peels what it can and flips rebuild_recommended; the query then "
    "ACTS on the flag: rebuild_ivf_index retrains the codebook from "
    "the live index rows (a plain IVF layout stores its vectors, so "
    "the rebuild is self-contained), √N-sized for the corpus's "
    "CURRENT size, preserves every id, and publishes via staged "
    "write + per-directory atomic rename (_swap_index_dirs — the "
    "commit-log two-phase publish shape). Declared gate is qix5's "
    "exactness shape: an exhaustive probe of the REBUILT index must "
    "equal brute-force kNN over the union corpus — any vector lost "
    "in the swap, stale sidecar, or broken id is a hash mismatch. "
    "Codebook re-sizing, swap hygiene, the PQ twin "
    "(rebuild_ivfpq_index from the original corpus), sidecar-pruning "
    "on layout change, recall at the comparable scan fraction, AND "
    "the honest residual (identical vectors are irreducible to any "
    "quantizer, so maintenance keeps flagging the blob — dedup is "
    "its fix) are pinned in tests/test_llm.py::"
    "test_rebuild_ivf_index. At 100 TB this is the rare full-pass "
    "job the nightly split loop exists to avoid — run when the flag "
    "says splitting no longer works.",
    tags=("llm", "vector", "index", "ann", "maintenance"),
)
def qix18_ivf_rebuild(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    path = os.path.join(fresh_dir("ivf_rebuild_emb"), "index")
    ann.write_ivf_index(emb, path, n_centroids=8, iters=2)
    n = emb.count()
    v0 = emb.filter(F.col("vec_id") == 0).select("embedding")
    dup = (
        spark.range(0, n)
        .select((F.col("id") + 200000).alias("vec_id"))
        .crossJoin(F.broadcast(v0))
    )
    ann.append_to_ivf_index(dup, path)
    rep = ann.maintain_ivf_index(spark, path)
    # corpus-sized identical mass: splitting cannot restore balance
    n_lists = rep["n_lists"]
    if rep["rebuild_recommended"]:
        n_lists = ann.rebuild_ivf_index(spark, path)["n_lists"]
    return _probe_top3(spark, path, emb, n_probe=n_lists)


@query(
    "qcont4_bloom_screen",
    oracle="""
WITH mem AS (
  SELECT md5(text) AS h FROM documents WHERE doc_id % 13 = 0),
bits AS (
  SELECT DISTINCT
         ((('0x' || substr(h, 1, 8))::BIGINT
           + i * (('0x' || substr(h, 9, 8))::BIGINT)) % 4096) AS bit
  FROM mem, unnest(range(0, 3)) AS t(i)),
pb AS (
  SELECT doc_id,
         ((('0x' || substr(md5(text), 1, 8))::BIGINT
           + i * (('0x' || substr(md5(text), 9, 8))::BIGINT)) % 4096)
           AS bit
  FROM documents, unnest(range(0, 3)) AS t(i))
SELECT doc_id,
       coalesce(bool_and(bit IN (SELECT bit FROM bits)), FALSE)
         AS in_bloom
FROM pb GROUP BY doc_id ORDER BY doc_id
""",
    doc="qcont4: PORTABLE BLOOM-FILTER SCREEN (operators/sketch.py "
    "bloom_bitmap / bloom_probe_col — the decontamination-at-scale "
    "primitive joining qcont1's exact n-gram and qcont3's semantic "
    "passes): the eval set's (doc_id%13) text hashes build a "
    "4096-bit / k=3 filter via the Kirsch–Mitzenmacher double-hash "
    "over engine-shared arithmetic (md5 + hex->int — the qa29 "
    "portable-sketch discipline), and the WHOLE corpus is screened "
    "by a pure map-side projection: the filter rides the plan as a "
    "64-long literal, each probe tests its k bits with shifts and "
    "masks — no join, no shuffle, no Python (plan-pinned in "
    "test_plans.py). Determinism is the point being certified: two "
    "engines building from the same member set must set IDENTICAL "
    "bits and therefore agree on every decision INCLUDING the false "
    "positives, so the full decision vector is hash-gated, not just "
    "the true members. No-false-negative and false-positive-rate "
    "properties are pinned in test_capabilities.py. At 100 TB the "
    "build side is the small relation (eval set / blocklist) and "
    "the corpus pays one projection — the cheapest possible "
    "first-pass screen before exact checks.",
    tags=("llm", "decontamination", "sketch", "filter"),
)
def qcont4_bloom_screen(spark, sf_dir):
    from sora_spark.operators import sketch

    docs = tables(spark, sf_dir).documents
    members = docs.filter(F.col("doc_id") % 13 == 0)
    words = sketch.bloom_bitmap(members, "text", m_bits=4096, k=3)
    return (
        docs.select(
            "doc_id",
            F.coalesce(
                sketch.bloom_probe_col("text", words, k=3), F.lit(False)
            ).alias("in_bloom"),
        )
        .orderBy("doc_id")
    )


@query(
    "qix14_hybrid_rrf_fusion",
    oracle="""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
consts AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
       WHERE term IN ('spark', 'vector', 'window')
       GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT t.doc_id,
         round(ln(((c.n_docs - f.df + 0.5) / (f.df + 0.5)) + 1.0)
               * ((t.tf * 2.2)
                  / (t.tf + 1.2 * (0.25 + (0.75 * d.dl) / c.avgdl))),
               6) AS contrib
  FROM tf t JOIN dl d USING (doc_id)
  CROSS JOIN consts c JOIN dfreq f USING (term)),
bm AS (SELECT doc_id, round(sum(contrib), 6) AS score
       FROM scored GROUP BY doc_id
       ORDER BY score DESC, doc_id LIMIT 20),
bt AS (SELECT doc_id,
              row_number() OVER (ORDER BY score DESC, doc_id) AS tr
       FROM bm),
sim AS (SELECT e.vec_id AS neighbor_id,
               round(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]),
                   CAST(p.embedding AS DOUBLE[])), 5) AS sim
        FROM embeddings e, embeddings p
        WHERE p.vec_id = 0 AND e.vec_id <> 0),
vt AS (SELECT neighbor_id, vr FROM (
         SELECT neighbor_id,
                row_number() OVER (ORDER BY sim DESC, neighbor_id) AS vr
         FROM sim) WHERE vr <= 20)
SELECT coalesce(bt.doc_id, vt.neighbor_id) AS id,
       round(coalesce(1.0 / (60 + tr), 0)
             + coalesce(1.0 / (60 + vr), 0), 6) AS rrf,
       CAST(tr AS INT) AS text_rank, CAST(vr AS INT) AS vec_rank
FROM bt FULL OUTER JOIN vt ON bt.doc_id = vt.neighbor_id
ORDER BY rrf DESC, id
""",
    doc="qix14: HYBRID RETRIEVAL — Reciprocal Rank Fusion (k=60, the "
    "Cormack/Clarke/Buettcher constant) of the BM25 postings index's "
    "lexical top-20 (llm/textindex.py, qix8's serving path) and the "
    "IVF vector index's cosine top-20 (llm/ann.py, exhaustive-config "
    "probe so the approximation contributes zero slack) via "
    "llm/hybrid.py rrf_fuse — the standard first-stage retrieval of "
    "a RAG/training-data pipeline, and the row that JOINS the two "
    "on-disk index subsystems into one serving path. Rank-based "
    "fusion needs no score calibration between BM25 logs and "
    "cosines; ranks are deterministic via each side's (score desc, "
    "id) total order over already-rounded scores, so the fused list "
    "hash-matches the from-scratch SQL computing BOTH rankings and "
    "the same 1/(60+r) arithmetic. Scale: the expensive work "
    "happened inside the pruned index reads (<=Q term buckets, "
    "n_probe inverted lists); the fusion itself joins two k-row "
    "frames — broadcast-sized by construction. The fixture's "
    "documents/embeddings ids share the 0..499 keyspace, standing in "
    "for a corpus with both text and an embedding per item.",
    tags=("llm", "index", "ranking", "hybrid", "ann"),
)
def qix14_hybrid_rrf_fusion(spark, sf_dir):
    t = tables(spark, sf_dir)
    base = fresh_dir("hybrid_rrf")
    tpath = os.path.join(base, "tindex")
    vpath = os.path.join(base, "vindex")
    textindex.write_text_index(t.documents, tpath, n_buckets=16)
    ann.write_ivf_index(t.embeddings, vpath, n_centroids=16, iters=2)
    text_hits = textindex.bm25_topk_indexed(
        spark, tpath, ["spark", "vector", "window"], top_k=20)
    probes = t.embeddings.filter(F.col("vec_id") == 0)
    vec_hits = ann.ivf_topk_indexed(
        spark, vpath, probes, k=20, n_probe=16)
    return hybrid.rrf_fuse(text_hits, vec_hits)


@query(
    "qix15_filtered_knn",
    oracle="""
WITH s AS (
  SELECT p.vec_id AS probe_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(p.embedding AS DOUBLE[])), 5)
           AS sim
  FROM embeddings p, embeddings e
  WHERE p.vec_id < 20 AND e.vec_id <> p.vec_id
    AND e.label <> 7 AND e.vec_id % 2 = 0),
r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM s)
SELECT probe_id, CAST(rn AS INT) AS rn, neighbor_id, sim
FROM r WHERE rn <= 3 ORDER BY probe_id, rn
""",
    doc="qix15: FILTERED vector search — kNN under a metadata "
    "predicate (label <> 7 AND even vec_id), served from the on-disk "
    "IVF index with PRE-filtering (llm/ann.py ivf_topk_indexed "
    "where=): the index's inverted lists store every corpus column "
    "(assign_cids keeps them), so the predicate rides the "
    "partition-pruned parquet scan as an ordinary pushdown filter "
    "and ineligible vectors are never ranked or fetched — the "
    "filtered-ANN shape every production vector store exposes "
    "(post-filtering a top-k instead silently returns < k under "
    "selective predicates, the classic bug this row exists to pin). "
    "Hash-gated through the exhaustive configuration (every list "
    "probed), so the output must equal the brute-force filtered kNN "
    "oracle EXACTLY; under real n_probe budgets the filter "
    "concentrates eligible neighbors into fewer lists and the "
    "operator doc records the raise-n_probe recall trade. At 100 TB "
    "the filter multiplies the candidate-set shrink: pruning drops "
    "non-probed lists at the file level, the pushdown drops "
    "ineligible row groups inside the probed ones.",
    tags=("llm", "vector", "index", "ann", "filter"),
)
def qix15_filtered_knn(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    path = os.path.join(fresh_dir("ivf_filtered"), "index")
    ann.write_ivf_index(emb, path, n_centroids=16, iters=2)
    return _probe_top3(
        spark, path, emb, n_probe=16, where="label <> 7 AND vec_id % 2 = 0")


@query(
    "qix16_kwic_snippets",
    oracle="""
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w
           FROM documents),
m AS (SELECT doc_id, w, list_position(w, 'spark') AS p1
      FROM t WHERE list_contains(w, 'spark'))
SELECT doc_id, CAST(p1 - 1 AS INT) AS first_pos,
       array_to_string(
         w[CASE WHEN p1 - 2 < 1 THEN 1 ELSE p1 - 2 END : p1 + 2],
         ' ') AS snippet
FROM m ORDER BY doc_id
""",
    doc="qix16: KEYWORD-IN-CONTEXT snippets served from the "
    "positional index (textindex.kwic_snippets_indexed — the "
    "result-rendering step of the search stack, Lucene-highlighter "
    "shaped): the pruned bucket read supplies the matching doc_ids "
    "AND the exact first-occurrence position (0-based, "
    "posexplode's convention), only those documents' stored text is "
    "fetched (broadcast hit-list join — at 100 TB the text scan is "
    "hit-bounded, the retrieve-then-render split), and the snippet "
    "is the ±2-token window around the hit with boundary clamping. "
    "The oracle recomputes from raw text with list_position, so a "
    "stale/duplicated position in the index, an off-by-one in the "
    "0/1-based conversion, or wrong clamping at document edges is a "
    "hash mismatch. The index is built from 3/4 of the corpus with "
    "the rest APPENDED, so the row also re-certifies positional "
    "ingest on the serving path that actually consumes positions "
    "one-at-a-time (qix10 consumes them as intersection sets).",
    tags=("llm", "text", "index", "snippet", "ingest"),
)
def qix16_kwic_snippets(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    path = _split_text_index(docs, "text_index_kwic", positions=True)
    return textindex.kwic_snippets_indexed(
        spark, path, docs, "spark", window=2)


@query(
    "qvq3_matryoshka_prefilter",
    oracle="""
WITH p AS (SELECT vec_id AS pid, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings),
s16 AS (
  SELECT p.pid, c.nid,
         round(list_cosine_similarity(c.v[1:16], p.v[1:16]), 5) AS s
  FROM p, c WHERE c.nid <> p.pid),
r16 AS (SELECT *, row_number() OVER (PARTITION BY pid
                                     ORDER BY s DESC, nid) AS rn
        FROM s16),
cand AS (SELECT pid, nid FROM r16 WHERE rn <= 20),
s64 AS (
  SELECT cand.pid AS probe_id, cand.nid AS neighbor_id,
         round(list_cosine_similarity(c2.v, p2.v), 5) AS sim
  FROM cand
  JOIN c c2 ON c2.nid = cand.nid
  JOIN p p2 ON p2.pid = cand.pid),
r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM s64)
SELECT probe_id, CAST(rn AS INT) AS rn, neighbor_id, sim
FROM r WHERE rn <= 5 ORDER BY probe_id, rn
""",
    doc="qvq3: MATRYOSHKA-STYLE two-stage retrieval (the MRL serving "
    "idiom next to qvq1's int8 and qvq2's PQ compression): stage A "
    "ranks the corpus by cosine over the FIRST 16 of 64 dimensions "
    "(a prefix slice — for matryoshka-trained embeddings the "
    "low-dim prefix is a usable coarse embedding; dot cost drops "
    "4x) and keeps top-20 candidates per probe; stage B re-ranks "
    "ONLY those candidates with the full 64-dim cosine and serves "
    "top-5. Both stages are deterministic (rank on the 5dp-rounded "
    "similarity with neighbor-id tiebreak, the qix13 discipline), "
    "so the ENTIRE two-stage pipeline is hash-gated against the "
    "identical SQL — including which candidates survive the stage-A "
    "cut, the part a recall-only gate would not pin. Engine "
    "arithmetic is the ql3-established zip_with/aggregate dot "
    "(bit-compatible with DuckDB's list_cosine_similarity at 5dp); "
    "the slice happens before the cast-free dot so stage A "
    "genuinely reads 16 elements. At 100 TB stage A is the "
    "brute-force-able cheap pass (or an IVF probe over truncated "
    "vectors) and stage B touches k candidates per probe — the "
    "classic funnel.",
    tags=("llm", "vector", "ann", "quantization"),
)
def qvq3_matryoshka_prefilter(spark, sf_dir):
    from sora_spark.functions import vector

    emb = tables(spark, sf_dir).embeddings
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("pid"),
        F.col("embedding").alias("pv"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("cv"),
    )
    # Stage A ranks on (pid, nid, s) ONLY — the corpus/probe vectors
    # are dropped before the window's pid-shuffle and re-attached to
    # the 20-per-probe survivors by id afterward (carrying cv+pv
    # through the exchange would shuffle ~16x more bytes
    # than the rank needs; at 100 TB the funnel's cheap pass must
    # shuffle scores, not payloads — guide §2.3/§8). The probe slice
    # happens once on the broadcast side (same array value, so the
    # rounded cosine is bit-identical).
    probes16 = probes.select("pid", F.slice("pv", 1, 16).alias("pv16"))
    s16 = (
        corpus.crossJoin(F.broadcast(probes16))
        .filter(F.col("nid") != F.col("pid"))
        .select(
            "pid", "nid",
            F.round(
                vector.cosine(F.slice("cv", 1, 16), F.col("pv16")), 5
            ).alias("s"),
        )
    )
    w16 = Window.partitionBy("pid").orderBy(F.desc("s"), "nid")
    cand = (
        s16.withColumn("rn16", F.row_number().over(w16))
        .filter(F.col("rn16") <= 20)
        .select("pid", "nid")
    )
    # stage B: candidates are k-per-probe (tiny) — broadcast them and
    # re-read the vectors map-side; the full-dim payload never shuffles
    s64 = (
        corpus.join(F.broadcast(cand), "nid")
        .join(F.broadcast(probes), "pid")
        .select(
            F.col("pid").alias("probe_id"),
            F.col("nid").alias("neighbor_id"),
            F.round(vector.cosine(F.col("cv"), F.col("pv")), 5).alias("sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("sim"), "neighbor_id")
    return (
        s64.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("probe_id", F.col("rn").cast("int").alias("rn"),
                "neighbor_id", "sim")
        .orderBy("probe_id", "rn")
    )
