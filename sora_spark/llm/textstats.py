"""Text analysis operators (SURVEY §2.11 + the training-data-pipeline
extensions): language-ID (stopword heuristic), quality scoring,
token counting, TF-IDF, document fingerprinting.

All pure Column/DataFrame compositions — explode + groupBy shapes that
stay inside whole-stage codegen; the ONE exception is the NFC step of
encoding_repair (an Arrow-batched pandas UDF — Unicode normalization
has no JVM builtin).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sora_spark.functions.text import tokens, word_shingles

# Tiny per-language stopword lexicon for the language-ID heuristic.
# Deliberately small and fixed: the declared query mirrors it as a SQL
# VALUES table, so both engines share one lexicon.
STOPWORDS: list[tuple[str, str]] = [
    ("the", "en"), ("and", "en"), ("of", "en"), ("to", "en"), ("in", "en"),
    ("der", "de"), ("die", "de"), ("und", "de"), ("das", "de"), ("ist", "de"),
    ("el", "es"), ("los", "es"), ("que", "es"), ("y", "es"), ("una", "es"),
    ("le", "fr"), ("et", "fr"), ("les", "fr"), ("des", "fr"), ("dans", "fr"),
    ("的", "zh"), ("是", "zh"), ("不", "zh"), ("了", "zh"), ("在", "zh"),
]


def stopword_lexicon(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(STOPWORDS, "tok string, lang_cand string")


def language_id(df: DataFrame, spark: SparkSession, text_col: str = "text") -> DataFrame:
    """Predicted language per doc = argmax stopword hits (ties broken
    by language name; docs with zero hits are absent)."""
    tok = df.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("tok")
    )
    hits = (
        tok.join(F.broadcast(stopword_lexicon(spark)), "tok")
        .groupBy("doc_id", "lang_cand")
        .agg(F.count("*").alias("n_hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("n_hits"), "lang_cand")
    return (
        hits.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang_cand").alias("pred_lang"), "n_hits")
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / token / stopword-ratio features + a fixed score blend.

    score = 0.4·min(n_tokens/100, 1) + 0.3·(1 − |avg_len − 5|/5 capped)
          + 0.3·stop_ratio — arbitrary but deterministic and monotone
    in the usual quality signals.
    """
    w = tokens(F.col(text_col))
    en_stop = F.array(*[F.lit(s) for s, lang in STOPWORDS if lang == "en"])
    n_tok = F.size(w)
    avg_len = (F.length(F.col(text_col)) - (n_tok - 1)) / n_tok  # chars sans spaces
    stop_ratio = F.size(F.filter(w, lambda x: F.array_contains(en_stop, x))) / n_tok
    # Blend from PRE-ROUNDED components: both engines agree exactly on
    # the rounded features, so the blend sums bitwise-identical doubles
    # — blending the raw ratios hit a 1-ulp rounding-boundary mismatch
    # at sf0.1 (score exactly 0.5213125, SURVEY trap 2).
    avg_r = F.round(avg_len, 4)
    stop_r = F.round(stop_ratio, 4)
    score = (
        0.4 * F.least(n_tok / F.lit(100.0), F.lit(1.0))
        + 0.3 * (1 - F.least(F.abs(avg_r - 5) / F.lit(5.0), F.lit(1.0)))
        + 0.3 * stop_r
    )
    return df.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        avg_r.alias("avg_token_len"),
        stop_r.alias("stop_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def tfidf_top_terms(
    df: DataFrame, top_k: int = 5, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Top-k terms per group by tf·ln(N/df), N = #groups, df = #groups
    containing the term. Two aggregations + a broadcast scalar join."""
    tok = df.select(group_col, F.explode(tokens(F.col(text_col))).alias("term"))
    tf = tok.groupBy(group_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_groups = df.agg(F.countDistinct(group_col).alias("n_groups"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_groups))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("n_groups") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select(group_col, "rn", "term", "score")
    )


def fingerprint(df: DataFrame, k: int = 4, text_col: str = "text") -> DataFrame:
    """Rolling char-k-gram fingerprint: min md5 over all k-grams (the
    deterministic core of winnowing-style fingerprinting).

    Explode-first (positions → scalar substring → partial min), not
    array_min(transform(...)): the higher-order form evaluates
    interpreted per k-gram — ~1300 interpreted md5s per document at
    the fixture's text length (the B12-family finding; same values,
    JVM codegen). Docs shorter than k keep a NULL fingerprint via the
    left re-join, matching the old empty-array array_min."""
    n = F.length(F.col(text_col))
    idx = F.when(
        n >= k, F.sequence(F.lit(1), n - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    mins = (
        df.select(
            "doc_id", F.col(text_col).alias("_t"), F.explode(idx).alias("i")
        )
        .select("doc_id", F.expr(f"substring(_t, i, {k})").alias("g"))
        .groupBy("doc_id")
        .agg(F.min(F.md5("g")).alias("fingerprint"))
    )
    return df.select("doc_id").join(mins, "doc_id", "left")


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition features, per doc:

    - dup_word_frac   = 1 − distinct_words / words
    - top_word_frac   = occurrences of the most frequent word / words
    - dup_bigram_frac = 1 − distinct_bigrams / bigrams (0 if < 2 words)

    High values flag templated / keyword-stuffed documents. All three
    are array expressions + one explode/groupBy (the wordcount shape):
    per-doc state never materializes outside the shuffle, so this runs
    at corpus scale like any aggregation.
    """
    ws = tokens(F.col(text_col))
    n = F.size(ws)
    n_distinct = F.size(F.array_distinct(ws))
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(ws, i), F.element_at(ws, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = df.select(
        "doc_id",
        "source",
        n.alias("n_words"),
        (1.0 - n_distinct / n).alias("dup_word_frac"),
        (
            F.when(n >= 2, 1.0 - F.size(F.array_distinct(bigrams)) / (n - 1))
            .otherwise(F.lit(0.0))
        ).alias("dup_bigram_frac"),
    )
    top = (
        df.select("doc_id", F.explode(ws).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    # left join: docs with NULL text produce no exploded rows; they
    # must surface with NULL features, not vanish (review finding)
    return base.join(top, "doc_id", "left").select(
        "doc_id",
        "source",
        "n_words",
        "dup_word_frac",
        (F.col("top_c") / F.col("n_words")).alias("top_word_frac"),
        "dup_bigram_frac",
    )


# PII / boilerplate scrub patterns — POSIX-safe subset (portable to
# RE2/Java); deliberately conservative: emails, bare URLs, long digit
# runs (phone/ids). Order matters: URLs FIRST (a URL may embed
# userinfo that the email pattern would match, double-counting one
# span — review finding), then emails, then digit runs.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"[+]?[0-9][0-9 ()+.-]{6,}[0-9]", "<NUM>"),
]


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Training-data scrub: replace emails / URLs / long digit runs
    with typed placeholder tokens, plus a per-doc count of
    replacements. Pure regexp_replace/regexp_count column expressions
    — JVM-side, scales with the scan."""
    scrubbed = F.col(text_col)
    n_hits = F.lit(0)
    for pat, token in PII_PATTERNS:
        n_hits = n_hits + F.regexp_count(scrubbed, F.lit(pat))
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return df.withColumn("text_scrubbed", scrubbed).withColumn(
        "n_scrubbed", n_hits.cast("int")
    )


def unigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    decimals: int = 6,
) -> DataFrame:
    """Corpus-model quality score: mean log unigram probability per doc
    → (doc_id, n_tokens, mean_logprob). The classic cheap perplexity
    proxy for quality filtering (garbage/rare-token soup scores low,
    fluent common-vocabulary text scores high).

    Two aggregation passes, both wordcount-shaped: corpus term
    frequencies (groupBy term), then a token→frequency join (term
    dictionary shuffles once; at web scale the frequent-term skew is
    exactly what AQE skew-split handles) and a per-doc mean. Corpus
    total rides along as a broadcast 1-row aggregate — nothing leaves
    the JVM."""
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t")
    )
    freq = tok.groupBy("t").agg(F.count("*").alias("_tf"))
    total = freq.agg(F.sum("_tf").cast("double").alias("_total"))
    return (
        tok.join(freq, "t")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("_tf") / F.col("_total"))), decimals
            ).alias("mean_logprob"),
        )
    )


def boilerplate_grams(
    docs: DataFrame,
    n: int = 2,
    min_docs: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Repeated-span (boilerplate) detection within source groups —
    the C4/RefinedWeb-style hygiene pass: a word n-gram present in
    >= min_docs DISTINCT documents of the same source is boilerplate
    (navigation chrome, headers, license blurbs at web scale) →
    (group, sh, n_docs).

    Shape: one wordcount-style aggregation over the distinct
    (group, doc, gram) stream — explode is map-side, the groupBy
    partially aggregates before the shuffle. Output is bounded by the
    repeated-gram vocabulary, far under the gram stream."""
    dg = docs.select(
        F.col(group_col),
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n)).alias("sh"),
    ).distinct()
    return (
        dg.groupBy(group_col, "sh")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def boilerplate_per_doc(
    docs: DataFrame,
    n: int = 2,
    min_docs: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-document boilerplate occurrence counts → (group, id,
    n_grams, n_bp): the composable form (qpipe2 reports the fraction
    per split; boilerplate_stats aggregates it per source). Same scale
    shape as boilerplate_stats — the bounded gram set broadcasts into
    the occurrence stream."""
    g = docs.select(
        F.col(group_col),
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n)).alias("sh"),
    )
    bp = boilerplate_grams(
        docs, n, min_docs, id_col, text_col, group_col
    ).select(group_col, "sh")
    tot = g.groupBy(group_col, id_col).agg(F.count("*").alias("n_grams"))
    hit = (
        g.join(F.broadcast(bp), [group_col, "sh"], "left_semi")
        .groupBy(group_col, id_col)
        .agg(F.count("*").alias("n_bp"))
    )
    return tot.join(hit, [group_col, id_col], "left").select(
        group_col,
        id_col,
        "n_grams",
        F.coalesce("n_bp", F.lit(0)).alias("n_bp"),
    )


def boilerplate_stats(
    docs: DataFrame,
    n: int = 2,
    min_docs: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source boilerplate report → (source, n_bp_grams,
    avg_bp_frac, n_docs): how much of each document is repeated spans,
    averaged per source — the signal a curation pipeline thresholds to
    drop template-heavy sources or strip repeated spans.

    The boilerplate gram set (bounded) broadcasts into the occurrence
    stream, so per-doc hit counting is a map-side broadcast join —
    the full gram stream shuffles only on (group, doc) for the two
    per-doc aggregations."""
    bp = boilerplate_grams(
        docs, n, min_docs, id_col, text_col, group_col
    ).select(group_col, "sh")
    per_doc = boilerplate_per_doc(
        docs, n, min_docs, id_col, text_col, group_col
    )
    bps = bp.groupBy(group_col).agg(F.count("*").alias("n_bp_grams"))
    return (
        per_doc.join(bps, group_col)
        .groupBy(group_col, "n_bp_grams")
        .agg(
            F.round(
                F.avg(F.col("n_bp") / F.col("n_grams")), 6
            ).alias("avg_bp_frac"),
            F.count("*").alias("n_docs"),
        )
        .select(group_col, "n_bp_grams", "avg_bp_frac", "n_docs")
    )


def compression_ratio(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """zlib-compressed-bytes / raw-bytes per document — the classic
    cheap repetition/low-entropy quality signal (boilerplate and
    template spam compress far below natural text). Python by
    necessity (no JVM zlib expression), but ONE vectorized
    mapInPandas pass: Arrow batches in, no shuffle, scales with input
    splits — the acceptable Python shape. Capability tier (zlib isn't
    cross-engine SQL); invariants pinned in tests: deterministic,
    repetitive text scores far below shuffled-unique text, ratios in
    (0, ~1.1]."""

    def _ratios(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            nb = raw.str.len().clip(lower=1)
            comp = raw.map(lambda b: len(zlib.compress(b, 6)))
            yield pd.DataFrame(
                {id_col: pdf[id_col], "ratio": comp / nb}
            )

    return df.select(id_col, text_col).mapInPandas(
        _ratios, schema=f"{id_col} bigint, ratio double"
    )


def vocab_top(
    df: DataFrame, vocab_size: int, text_col: str = "text"
) -> DataFrame:
    """Top-`vocab_size` whitespace tokens by (count DESC, token ASC) —
    deterministic at the cut boundary. orderBy+limit compiles to
    TakeOrderedAndProject (per-partition partial top-k, then a merge of
    V-sized heads) — never a single-partition global sort, which is
    what a window row_number over all distinct tokens would cost."""
    tok = df.select(
        F.explode(F.split(F.col(text_col), " ")).alias("t")
    )
    return (
        tok.groupBy("t")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("t"))
        .limit(vocab_size)
        .select("t")
    )


def oov_rate(
    df: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
    by: str = "source",
) -> DataFrame:
    """Out-of-vocabulary rate per `by` group against the corpus's own
    top-V vocabulary — the tokenizer-coverage health check run before
    committing a vocab to a training mix. The vocab is V rows →
    broadcast; the token stream is left-joined map-side (flag, no
    shuffle beyond the final per-group agg)."""
    tok = df.select(
        F.col(by), F.explode(F.split(F.col(text_col), " ")).alias("t")
    )
    voc = F.broadcast(vocab_top(df, vocab_size, text_col).withColumn(
        "_inv", F.lit(1)
    ))
    j = tok.join(voc, "t", "left")
    oov = F.col("_inv").isNull().cast("double")
    return (
        j.groupBy(by)
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(oov.cast("bigint")).cast("bigint").alias("oov_tokens"),
            F.round(F.avg(oov), 6).alias("oov_rate"),
        )
    )


def intradoc_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """C4-style INTRA-document repetition scrubbing: drop every token
    whose trailing word n-gram already occurred earlier in the SAME
    document (first n-1 tokens always kept), rebuild the cleaned text
    → (id, clean_text, n_kept, n_dropped). One posexplode + one
    per-(doc, gram) first-occurrence window + one ordered
    re-aggregation — all keyed by doc, so a 100 TB corpus scrubs
    embarrassingly parallel; qta5 MEASURES repetition, this REMOVES
    it."""
    tok = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w"),
    )
    wo = Window.partitionBy("id").orderBy("pos")
    gram = F.concat_ws(
        " ", *[F.lag("w", n - 1 - i).over(wo) for i in range(n)]
    )
    g = tok.withColumn("_gram", gram)
    wg = Window.partitionBy("id", "_gram").orderBy("pos")
    keep = (F.col("pos") < n - 1) | (F.row_number().over(wg) == 1)
    kept = g.withColumn("_keep", keep)
    rebuilt = (
        kept.filter("_keep")
        .groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "w"))
                    ),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").cast("bigint").alias("n_kept"),
        )
    )
    totals = tok.groupBy("id").agg(F.count("*").alias("_n_total"))
    return rebuilt.join(totals, "id").select(
        "id",
        "clean_text",
        "n_kept",
        (F.col("_n_total") - F.col("n_kept")).cast("bigint").alias(
            "n_dropped"
        ),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 document ranking for a fixed query → (doc_id, score), the
    `top_k` best documents (score desc, id tiebreak) — the classic
    retrieval scorer over the inverted-index shape (qix1).

    score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)  (the Lucene form —
    always positive, so hyper-frequent terms dampen instead of flip).

    Scale shape — ONE corpus pass: a query is a SMALL fixed term set,
    so per-term tf counters pivot into the same per-doc aggregation
    that computes dl (one counter column per query term, map-side
    combined). Everything downstream — df per term, the corpus
    constants (N, avgdl), the per-doc scores — derives from that
    doc-count-sized table, never rescanning the corpus (the first cut
    of this operator scanned + exploded the corpus FOUR times: dl,
    tf, and their two re-aggregations; .explain showed no exchange
    reuse because the four subtrees differ — round-7 plan review).
    df and consts are broadcast 1-row/term-count-sized joins.
    Per-term contributions are rounded to 6 decimals BEFORE the
    per-doc sum so cross-engine float drift cannot reorder the top-k
    boundary."""
    terms = list(query_terms)
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    )
    # one pass: dl + one tf counter per query term
    per_doc = tok.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.count(F.when(F.col("term") == t, True)).alias(f"_tf_{i}")
            for i, t in enumerate(terms)
        ],
    ).localCheckpoint(eager=True)  # doc-count-sized; cuts the corpus
    # scan out of every downstream derivation
    consts = per_doc.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    dfreq = per_doc.agg(
        *[
            F.count(F.when(F.col(f"_tf_{i}") > 0, True)).alias(f"_df_{i}")
            for i in range(len(terms))
        ]
    )
    # unpivot the counters to (doc_id, dl, term-index, tf), drop tf=0
    stack_args: list = []
    for i in range(len(terms)):
        stack_args.extend([F.lit(i), F.col(f"_tf_{i}")])
    long = (
        per_doc.select(
            "doc_id",
            "dl",
            F.stack(F.lit(len(terms)), *stack_args).alias("ti", "tf"),
        )
        .filter(F.col("tf") > 0)
        .crossJoin(F.broadcast(consts))
        .crossJoin(F.broadcast(dfreq))
    )
    df_col = F.element_at(
        F.array(*[F.col(f"_df_{i}") for i in range(len(terms))]),
        F.col("ti") + 1,
    )
    idf = F.log(
        (F.col("n_docs") - df_col + 0.5) / (df_col + 0.5) + 1.0
    )
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    contrib = F.round(idf * norm, 6)
    return (
        long.groupBy("doc_id")
        .agg(F.round(F.sum(contrib), 6).alias("score"))
        .orderBy(F.desc("score"), "doc_id")
        .limit(top_k)
    )


def bigram_pairs(text_col):
    """Adjacent word-pair expansion as an array of (a, b) structs —
    the shared in-row derivation behind the bigram family (qta13
    logprob, qta18 repetition, qta19 perplexity gate). The size >= 2
    guard returns an EMPTY array for one-word docs (sequence(1, 0)
    would run descending, the same trap qsmp1 guards); extracting it
    here keeps the three call sites from drifting on that edge
    (review finding)."""
    w = F.split(text_col, " ")
    idx = F.when(
        F.size(w) >= 2, F.sequence(F.lit(1), F.size(w) - 1)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(w, i).alias("a"),
            F.element_at(w, i + 1).alias("b"),
        ),
    )


def chargram_language_id(
    df: DataFrame, n: int = 3, mod: int = 10, train_lt: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Character-n-gram Naive-Bayes language identification (the
    textcat / langid.py family): per-language n-gram profiles learned
    on a deterministic train split (doc_id % mod < train_lt), held-out
    docs scored by add-one-smoothed multinomial log-likelihood plus a
    log-prior, argmax with a language-name tie-break.

    Returns one row per held-out doc: (doc_id, actual_lang, pred_lang).

    Scale shape (100 TB): the profile table is VOCAB-sized (char
    n-grams are bounded by charset^n, not corpus size) and the
    language list is tiny, so both ride a broadcast; the corpus-sized
    work is one explode + two hash aggregations + a broadcast join —
    map-side all the way, no all-pairs anything. The argmax window
    partitions by doc_id (perfectly parallel).

    On THIS fixture the label is statistically independent of the text
    (every lang draws from the same 31-word vocabulary), so accuracy
    sits near the majority-class floor — a property of the synthetic
    data, not the operator; the oracle certifies the math, and the
    confusion matrix makes the floor visible instead of hiding it.
    """
    # explode the index sequence FIRST, then slice with a scalar
    # substr (the de_bruijn/e_co recipe, OPTIMIZATION_r15.md): the
    # transform() lambda form evaluates interpreted outside
    # whole-stage codegen and allocates an n-gram array per document
    # before exploding it; same gram multiset, zero intermediate
    # arrays. This is the corpus-sized stage of the query.
    idx = F.when(
        F.length(F.col(text_col)) >= n,
        F.sequence(F.lit(1), F.length(F.col(text_col)) - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    g = (
        df.select(
            "doc_id",
            "lang",
            (F.col("doc_id") % mod < train_lt).alias("is_train"),
            F.col(text_col),
        )
        .withColumn("_i", F.explode(idx))
        .select(
            "doc_id",
            "lang",
            "is_train",
            F.substring(F.col(text_col), F.col("_i"), F.lit(n)).alias("g"),
        )
    )
    train_g = g.filter("is_train")
    prof = train_g.groupBy("lang", "g").agg(
        F.count("*").cast("double").alias("cnt")
    )
    tot = prof.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    vocab = train_g.agg(F.countDistinct("g").cast("double").alias("v"))
    train_docs = df.filter(F.col("doc_id") % mod < train_lt)
    priors = (
        train_docs.groupBy("lang")
        .agg(F.count("*").cast("double").alias("nd"))
        .crossJoin(
            F.broadcast(
                train_docs.agg(F.count("*").cast("double").alias("ntot"))
            )
        )
        .select("lang", F.log(F.col("nd") / F.col("ntot")).alias("prior"))
    )
    # 5-row candidate table: (cand_lang, prior, tot, v)
    cands = (
        priors.join(tot, "lang")
        .crossJoin(F.broadcast(vocab))
        .select(F.col("lang").alias("cand_lang"), "prior", "tot", "v")
    )
    tf = (
        g.filter(~F.col("is_train"))
        .groupBy("doc_id", F.col("lang").alias("actual_lang"), "g")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    scored = (
        tf.crossJoin(F.broadcast(cands))
        .join(
            F.broadcast(
                prof.select(F.col("lang").alias("cand_lang"), "g", "cnt")
            ),
            ["cand_lang", "g"],
            "left",
        )
        .withColumn("cnt", F.coalesce("cnt", F.lit(0.0)))
        .withColumn(
            "term",
            F.col("tf")
            * F.log((F.col("cnt") + 1.0) / (F.col("tot") + F.col("v"))),
        )
        .groupBy("doc_id", "actual_lang", "cand_lang", "prior")
        .agg(F.sum("term").alias("ll"))
        .withColumn("score", F.col("ll") + F.col("prior"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "cand_lang")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id", "actual_lang", F.col("cand_lang").alias("pred_lang")
        )
    )


# Control characters a text-cleaning pass strips (keeps \t \n \r, which
# whitespace canonicalization handles): same RE2-safe class both engines.
_CTRL_CLASS = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"

# The classic UTF-8-read-as-Latin-1 mojibake pairs a crawl cleaner maps
# back. Deliberately a small fixed table mirrored verbatim in the
# oracle SQL; extend both sides together.
MOJIBAKE_MAP: list[tuple[str, str]] = [
    ("Ã©", "é"),  # A-tilde + copyright-ish pair -> e-acute
    ("Ã¨", "è"),  # -> e-grave
    ("Ã¤", "ä"),  # -> a-umlaut
    ("\u00e2\u20ac\u2122", "\u2019"),  # a-circ euro tm -> right single quote
]


def _any_contains(col, needles: list[str]):
    out = F.lit(False)
    for n in needles:
        out = out | col.contains(n)
    return out


def encoding_repair(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Encoding-hygiene pass: detect and repair the byte-level junk a
    100 TB crawl carries — BOM / zero-width no-break, NBSP, control
    characters, CRLF, Latin-1 mojibake, decomposed combining marks —
    then NFC-normalize and canonicalize whitespace.

    Adds detection flags (computed on the INPUT text) and a `repaired`
    column. Everything except the NFC step is JVM-side
    replace/regexp_replace inside codegen; NFC is one Arrow-batched
    pandas UDF (Python's unicodedata and DuckDB's utf8proc implement
    the same Unicode normalization standard).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: None if x is None else unicodedata.normalize("NFC", x)
        )

    t = F.col(text_col)
    out = (
        df.withColumn("had_bom", t.contains("\ufeff"))
        .withColumn("had_nbsp", t.contains("\u00a0"))
        .withColumn("had_ctrl", t.rlike(_CTRL_CLASS))
        .withColumn("had_crlf", t.contains("\r\n"))
        # the NFC step repairs EVERY decomposed combining mark, so the
        # audit flag covers the full Combining Diacritical Marks block
        # (U+0300-U+036F), not just U+0301 (same class of gap as the
        # mojibake flag)
        .withColumn("had_combining", t.rlike("[\u0300-\u036f]"))
        .withColumn(
            "had_mojibake",
            # ANY known pair, not just the first — the repair rewrites
            # all four, so the audit flag must cover what the repair
            # touches (review finding)
            _any_contains(t, [bad for bad, _ in MOJIBAKE_MAP]),
        )
    )
    r = t
    for bad, good in MOJIBAKE_MAP:
        r = F.replace(r, F.lit(bad), F.lit(good))
    r = F.replace(r, F.lit("\ufeff"), F.lit(""))
    r = F.replace(r, F.lit("\u00a0"), F.lit(" "))
    r = F.regexp_replace(r, _CTRL_CLASS, "")
    r = _nfc(r)
    r = F.trim(F.regexp_replace(r, r"\s+", " "))
    return out.withColumn("repaired", r)


def source_divergence(
    docs: DataFrame,
    top_k: int = 16,
    text_col: str = "text",
    source_col: str = "source",
    checkpoint: bool = True,
) -> DataFrame:
    """Per-source Jensen-Shannon divergence from the corpus unigram
    distribution, over the global TOP-K vocabulary plus one explicit
    "OTHER" residual bucket per distribution (qta24).

    Why the cap: broadcasting the FULL vocabulary into the JS grid
    does not scale; under Heaps' law the distinct-token table of a 100 TB
    crawl is billions of rows — a driver OOM. A truncated+remainder
    distribution is still a distribution, so JS over it is still a
    valid drift monitor (tail drift shows as OTHER-mass drift), and
    the truncation is not silent: n_vocab / vocab_kept ride in every
    result row. Top-K selection plans as TakeOrderedAndProject
    (per-partition top-K, K-row driver merge) — the vocabulary is
    never globally sorted, collected, or broadcast; only the K-row
    top table and two scalar aggregates broadcast.

    `checkpoint=False` skips the localCheckpoints so plan tests can
    see the full lineage (the checkpoints turn subtrees into
    ExistingRDD leaves, hiding the limit from `.explain`).
    """
    _cp = (lambda df: df.localCheckpoint(eager=True)) if checkpoint \
        else (lambda df: df)
    w = docs.select(
        source_col, F.explode(F.split(text_col, " ")).alias("w")
    ).filter(F.length("w") > 0)
    # four consumers (st, g, the grid join, the OTHER residual) reuse
    # this wordcount — checkpoint so the tokenize pass runs ONCE
    # unconditionally (the qta20/qd5 convention for fanned-out subtrees)
    wc = _cp(w.groupBy(source_col, "w").agg(
        F.count("*").cast("double").alias("c")))
    st = wc.groupBy(source_col).agg(F.sum("c").alias("n_s"))
    g = wc.groupBy("w").agg(F.sum("c").alias("cg"))
    gt = g.agg(F.sum("cg").alias("n"), F.count("*").alias("n_vocab"))
    # deterministic tie-break at the K boundary: (count DESC, token ASC)
    top = _cp(g.orderBy(F.desc("cg"), F.asc("w")).limit(top_k))
    tt = top.agg(F.sum("cg").alias("cg_top"))
    # pre-filter the wordcount to the top-K words BEFORE the grid
    # join: joining the grid directly against the vocab-sized wc made
    # Spark broadcast wc (the grid side is smaller) — the exact
    # unbounded-broadcast shape this operator exists to avoid. wt is
    # <= K x sources rows by construction, so whichever side the
    # planner builds is bounded.
    wt = wc.join(F.broadcast(top.select("w")), "w", "inner")
    grid = (
        st.crossJoin(F.broadcast(top))
        .join(wt, [source_col, "w"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0.0)))
        .crossJoin(F.broadcast(gt))
    )
    p = F.col("c") / F.col("n_s")
    q = F.col("cg") / F.col("n")
    m = (p + q) / 2
    # 0 ln 0 = 0 for BOTH sides (q is always > 0 over the top vocab,
    # but the OTHER bucket below reuses the symmetric form)
    contrib = 0.5 * F.when(p > 0, p * F.log(p / m)).otherwise(F.lit(0.0)) \
        + 0.5 * F.when(q > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    topagg = (
        grid.withColumn("term", contrib)
        .groupBy(source_col)
        .agg(
            F.any_value("n_s").alias("n_s"),
            F.sum("c").alias("c_top"),
            F.sum("term").alias("js_top"),
        )
    )
    # OTHER bucket: the tail mass each distribution lost to the cap.
    # Counts are integers carried in doubles, so the subtractions are
    # exact (< 2^53); q_o == 0 exactly when top_k >= vocab.
    p_o = (F.col("n_s") - F.col("c_top")) / F.col("n_s")
    q_o = (F.col("n") - F.col("cg_top")) / F.col("n")
    m_o = (p_o + q_o) / 2
    term_o = (
        F.when(p_o > 0, 0.5 * p_o * F.log(p_o / m_o)).otherwise(F.lit(0.0))
        + F.when(q_o > 0, 0.5 * q_o * F.log(q_o / m_o)).otherwise(F.lit(0.0))
    )
    return (
        topagg.crossJoin(F.broadcast(gt))
        .crossJoin(F.broadcast(tt))
        .select(
            source_col,
            F.col("n_s").cast("bigint").alias("n_tokens"),
            F.round(F.col("js_top") + term_o, 6).alias("js_divergence"),
            F.col("n_vocab").cast("bigint").alias("n_vocab"),
            F.least(F.lit(top_k), F.col("n_vocab"))
            .cast("bigint").alias("vocab_kept"),
        )
        .orderBy(source_col)
    )


def crossdoc_span_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """CROSS-document duplicated-span REMOVAL — the transform behind
    qd10's detection signal (the training-data dedup literature's
    ExactSubstr step, re-expressed as an n-gram cover instead of a
    suffix array, which is the Spark-native shape): every n-word
    passage that occurs in >= 2 DOCUMENTS is removed from every
    occurrence except the globally-first one (min (doc, pos)), where
    'removed' means every token position covered by a non-canonical
    duplicated passage; the cleaned text is rebuilt from the
    surviving tokens in order. Intra-document repetition with no
    cross-doc twin is left alone — that is `intradoc_dedup`'s job.

    → (id, clean_text, n_kept, n_removed); fully-scrubbed docs come
    back with empty clean_text, n_kept 0 (audit rows, not silent
    drops).

    Scale shape: tokenize (map-side posexplode), per-doc window leads
    to form grams (keyed by doc), ONE corpus groupBy on the gram
    (wordcount economics — partial-agg map-side; the gram df table
    is the same key space qd10 shuffles), an equi-join back, a
    bounded x n coverage explode, and a left-anti join on (doc, pos).
    No Python, no driver state; the n-gram cover over-approximates
    suffix-array maximal matches by at most n-1 boundary tokens per
    span, the standard trade for distributing the pass.

    CONTRACT: `id_col` must be an INTEGRAL column — the globally-first
    occurrence is encoded as id*1e9 + pos so both engines share one
    total order (struct-min ordering differs in corner cases). A
    string id would make that arithmetic NULL, every gram's _first
    NULL, and the scrub a silent no-op — so non-integral ids refuse
    loudly here instead. Map string ids to a dense
    bigint (zipWithIndex / xxhash64) before calling."""
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    if not isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise ValueError(
            f"crossdoc_span_scrub needs an integral {id_col!r} (got "
            f"{id_type.simpleString()}): the first-occurrence tiebreak "
            "is encoded as id*1e9+pos — map ids to bigint first"
        )
    tok = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w"),
    )
    wo = Window.partitionBy("id").orderBy("pos")
    gram = F.concat_ws(
        " ", F.col("w"), *[F.lead("w", i).over(wo) for i in range(1, n)]
    )
    # gram and the completeness flag MUST land in one projection: a
    # filter between them would re-evaluate the gram's leads over the
    # FILTERED partition, silently truncating grams near doc ends
    # (concat_ws skips the now-NULL leads)
    occ = (
        tok.select(
            "id",
            "pos",
            gram.alias("_gram"),
            F.lead("w", n - 1).over(wo).alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select("id", "pos", "_gram")
    )
    # encoded (doc, pos) min is portable across engines (struct min
    # ordering differs in corner cases); pos is bounded far below 1e9
    enc = F.col("id") * F.lit(1_000_000_000) + F.col("pos")
    st = occ.groupBy("_gram").agg(
        F.countDistinct("id").alias("_nd"),
        F.min(enc).alias("_first"),
    )
    dup = (
        occ.join(st, "_gram")
        .filter((F.col("_nd") >= 2) & (enc != F.col("_first")))
    )
    covered = dup.select(
        "id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
        ).alias("pos"),
    ).distinct()
    kept = tok.join(covered, ["id", "pos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").cast("bigint").alias("n_kept"),
    )
    totals = tok.groupBy("id").agg(F.count("*").alias("_n_total"))
    return totals.join(rebuilt, "id", "left").select(
        "id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        (F.col("_n_total") - F.coalesce("n_kept", F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
    )
