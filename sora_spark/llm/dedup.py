"""Deduplication operators (SURVEY §2.11, Q-L1/Q-L2 + extensions).

Scale design: every variant is shuffle-bounded —
- exact: one hash-groupBy on a fingerprint (never on raw text; the
  md5 keeps shuffle rows small at 100 TB);
- MinHash-LSH: explode shingles map-side → per-doc signatures (one
  groupBy) → band buckets → self-join per bucket. Candidate pairs are
  bounded by bucket sizes, never all-pairs;
- SimHash: one explode + one groupBy; fingerprints join on themselves
  or banded substrings;
- embedding near-dup: bounded/blocked cosine join (ann.py provides the
  LSH-bucketed path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sora_spark.functions.text import minhash_salted, tokens, word_shingles
from sora_spark.graph import Graph


def exact_fingerprint(text: Column, normalize: bool = True) -> Column:
    """md5 dedup key (lower/trim normalization optional)."""
    t = F.lower(F.trim(text)) if normalize else text
    return F.md5(t)


def dedup_exact(df: DataFrame, text_col: str = "text", normalize: bool = True) -> DataFrame:
    """Keep the first (min doc_id) row per fingerprint."""
    fp = exact_fingerprint(F.col(text_col), normalize)
    w = Window.partitionBy("_fp").orderBy("doc_id")
    return (
        df.withColumn("_fp", fp)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


def exploded_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sh) word-n-gram rows, built explode-FIRST with scalar
    concat_ws/element_at expressions — the codegen-friendly twin of
    `word_shingles` (whose higher-order `transform` lambdas evaluate
    interpreted, the 4.8× B12 finding). Same shingle STRINGS, same
    duplicate multiplicity; docs shorter than `shingle_n` words emit
    no rows. Every hot shingle consumer (minhash, Jaccard,
    containment) goes through here."""
    w = F.split(F.col(text_col), " ")
    idx = F.when(
        F.size(w) >= shingle_n,
        F.sequence(F.lit(1), F.size(w) - (shingle_n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return df.select(
        F.col(id_col).alias("id"), w.alias("w"), F.explode(idx).alias("i")
    ).select(
        "id",
        F.concat_ws(
            " ",
            *[F.element_at("w", F.col("i") + k) for k in range(shingle_n)],
        ).alias("sh"),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature under `num_perm` salted-md5
    permutations → (id, perm, sig). Same VALUES as the original
    array-lambda form (min md5(salt||shingle) per perm — every
    dependent oracle unchanged), but derived explode-first: shingles
    are built once as scalar concat_ws/element_at expressions and the
    per-perm mins are partial aggregates. The lambda form paid ~4× at
    sf0.1 because higher-order `transform` exprs don't enter
    whole-stage codegen AND each salt's expression rebuilt the
    shingle array (no CSE across projections) — the B12 bench
    finding. Cost: one doc-keyed shuffle of num_perm-column partial
    mins (doc-count-sized), vs the old map-only-but-interpreted
    plan; at 100 TB the partial agg is the right trade too (the
    shuffle rows are fingerprint-sized).

    Docs with fewer than `shingle_n` words have no shingles: they
    emit (id, perm, NULL) rows, matching the old wide-form NULLs."""
    ex = exploded_shingles(df, id_col, text_col, shingle_n)
    wide = ex.groupBy("id").agg(
        *[
            F.min(
                F.md5(F.concat(F.lit(f"{salt}|"), F.col("sh")))
            ).alias(f"sig_{salt}")
            for salt in range(num_perm)
        ]
    )
    # re-attach shingle-less docs as NULL-signature rows (old contract)
    all_ids = df.select(F.col(id_col).alias("id"))
    wide = all_ids.join(wide, "id", "left")
    stack = ", ".join(f"{s}, sig_{s}" for s in range(num_perm))
    return wide.selectExpr("id", f"stack({num_perm}, {stack}) AS (perm, sig)")


def _band_keys(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int,
    bands: int,
) -> DataFrame:
    """(id, band, bkey) MinHash band keys — the shared front half of
    `lsh_candidate_pairs` (full pair semantics, qd4) and
    `near_dup_clusters`' star edges (connectivity only, qd5)."""
    rows_per_band = num_perm // bands
    sig = minhash_signatures(df, text_col, id_col, num_perm)
    return (
        # docs with no shingles (fewer than shingle_n words) have NULL
        # signatures; collect_list would drop them and give every such
        # doc the SAME empty band key, pairing all short docs with
        # each other (round-3 review finding). They have no MinHash
        # evidence of similarity — exclude them from banding entirely,
        # matching the SQL oracle (its shingle CTE omits them).
        sig.filter(F.col("sig").isNotNull())
        .withColumn("band", (F.col("perm") / rows_per_band).cast("int"))
        .groupBy("id", "band")
        .agg(F.concat_ws("|", F.array_sort(F.collect_list("sig"))).alias("bkey"))
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Multi-band MinHash LSH: band key = concatenated signatures of
    the band's permutations; docs sharing any band key are candidates.
    Returns distinct (a, b) with a < b."""
    band_keys = (
        _band_keys(df, text_col, id_col, num_perm, bands)
        # lazy cut: without it the WHOLE shingle→minhash→band
        # derivation runs once per self-join side (the broadcast join
        # reuses no exchange). The broadcast-build job materializes
        # the blocks, the probe side reads them back — one derivation
        # instead of two, no extra job.
        .localCheckpoint(eager=False)
    )
    a, b = band_keys.alias("a"), band_keys.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
        .distinct()
    )


def simhash_fast(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash via xxhash64 (engine-internal fast path — NOT
    cross-engine comparable; the declared query qd1 uses the portable
    md5-nibble formulation instead). One explode + one groupBy."""
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    bits = tok.select(
        "id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bit"),
    ).select(
        "id",
        "bit",
        (F.expr("shiftright(h, bit)").bitwiseAND(F.lit(1)) * 2 - 1).alias("contrib"),
    )
    per_bit = bits.groupBy("id", "bit").agg(F.sum("contrib").alias("s"))
    return per_bit.groupBy("id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(0)
        ).alias("simhash")
    )


def simhash_value32(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Portable 32-bit SimHash as a BIGINT value (same bit votes as the
    qd1 hex form: token md5's first 8 nibbles = bits 0..31, vote +-1
    per token per bit, bit set when the vote is positive). Cross-engine
    reproducible — the Hamming-join oracle recomputes it in DuckDB.
    Shape: explode tokens (map-side), explode 32 bits, partial-agg
    before the (id, bit) shuffle — doc x 32 rows cross the wire, never
    token x 32."""
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).select(
        "id",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
        .cast("bigint")
        .alias("h"),
    )
    bits = tok.select(
        "id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("bit"),
    ).select(
        "id",
        "bit",
        (F.expr("shiftright(h, bit)").bitwiseAND(F.lit(1)) * 2 - 1).alias(
            "contrib"
        ),
    )
    per_bit = bits.groupBy("id", "bit").agg(F.sum("contrib").alias("s"))
    return per_bit.groupBy("id").agg(
        F.sum(
            F.when(
                F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("sh")
    )


def simhash_hamming_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dup join with GUARANTEED recall: band the 32-bit
    fingerprint into `n_bands` equal slices and bucket-join on (band,
    slice value); by pigeonhole any pair within Hamming distance
    < n_bands shares at least one untouched band, so for max_hamming
    <= n_bands - 1 the bucketed candidates are a superset of the true
    pairs and the bit_count(xor) verify makes the result EXACTLY the
    all-pairs answer — the property the qd6 oracle checks. Scale: the
    join is equi-keyed on band values (one shuffle per side, bucket-
    bounded); only candidate pairs ever pay the Hamming computation.
    """
    if max_hamming >= n_bands:
        raise ValueError(
            f"recall guarantee needs max_hamming < n_bands "
            f"(got {max_hamming} >= {n_bands})"
        )
    if 32 % n_bands:
        raise ValueError(f"n_bands must divide 32 (got {n_bands})")
    bb = 32 // n_bands
    sh = simhash_value32(df, text_col=text_col, id_col=id_col)
    bands = sh.select(
        "id",
        "sh",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).withColumn("bv", F.expr(f"(sh >> (band * {bb})) & {(1 << bb) - 1}"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a"),
            F.col("b.id").alias("b"),
            F.col("a.sh").alias("sa"),
            F.col("b.sh").alias("sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.expr("bit_count(sa ^ sb)").cast("bigint"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def jaccard_over_pairs(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate (a, b) pairs: |A∩B| / |A∪B|
    over DISTINCT word shingles. Joins shingle sets only for candidate
    docs (the LSH prefilter keeps this tractable at scale)."""
    sh = exploded_shingles(df, id_col, text_col, shingle_n).distinct()
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    shb = sh.select(F.col("id").alias("b2"), F.col("sh").alias("sh2"))
    inter = (
        pairs.join(sh.select(F.col("id").alias("a"), "sh"), "a")
        # shingle equality is IN the join condition (with the doc key),
        # so the planner MUST treat (b, sh) as a composite equi-join key
        # — never |A|x|B| intermediate rows per pair (pinned by
        # tests/test_plans.py::test_jaccard_candidates_equi_join)
        .join(
            shb,
            (F.col("b") == F.col("b2")) & (F.col("sh") == F.col("sh2")),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        pairs.join(inter, ["a", "b"], "left")
        .na.fill({"n_inter": 0})
        .join(sizes.select(F.col("id").alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("n").alias("nb")), "b")
        .select(
            "a",
            "b",
            (
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )


def containment_over_pairs(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """ASYMMETRIC shingle containment for candidate (a, b) pairs →
    (a, b, cont_a_in_b, cont_b_in_a) with cont_a_in_b = |A∩B| / |A|
    over DISTINCT word shingles.

    Jaccard misses sub-document duplication — a paragraph pasted into
    a much longer page scores near 0 Jaccard but ~1.0 containment on
    the short side, which is exactly the LLM-curation case (quoted
    boilerplate, scraped mirrors with chrome). Same bucket-bounded
    regime as jaccard_over_pairs: shingle sets are joined ONLY for
    candidate docs, with shingle equality inside the composite
    equi-join key."""
    sh = exploded_shingles(df, id_col, text_col, shingle_n).distinct()
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    shb = sh.select(F.col("id").alias("b2"), F.col("sh").alias("sh2"))
    inter = (
        pairs.join(sh.select(F.col("id").alias("a"), "sh"), "a")
        .join(
            shb,
            (F.col("b") == F.col("b2")) & (F.col("sh") == F.col("sh2")),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        pairs.join(inter, ["a", "b"], "left")
        .na.fill({"n_inter": 0})
        .join(sizes.select(F.col("id").alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("n").alias("nb")), "b")
        .select(
            "a",
            "b",
            (F.col("n_inter") / F.col("na")).alias("cont_a_in_b"),
            (F.col("n_inter") / F.col("nb")).alias("cont_b_in_a"),
        )
    )


def near_dup_clusters(
    df: DataFrame,
    num_perm: int = 8,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate CLUSTERING → (doc_id, cluster_id, is_canonical):
    docs sharing a MinHash band bucket are connected, cluster_id is the
    min id of the doc's connected component (`Graph.connected_components`
    picks the regime), and the canonical doc is that min id. Pairs alone
    under-merge: a≈b, b≈c collapse to ONE cluster even when a and c
    never share a bucket. Docs with no near-dup are their own singleton
    cluster (cluster_id = doc_id).

    EDGES ARE STARS, NOT CLIQUES: a bucket of k docs is exactly as
    connected by its k-1 (min-id -> member) edges as by the k(k-1)/2
    pairs `lsh_candidate_pairs` emits, so clusters are identical
    (pinned by test_near_dup_clusters_star_equivalence) while a hot
    bucket costs linear, not quadratic, edges: at most bands*n_docs."""
    w_b = Window.partitionBy("band", "bkey")
    pairs = (
        _band_keys(df, text_col, id_col, num_perm, bands)
        .withColumn("root", F.min("id").over(w_b))
        .filter(F.col("id") != F.col("root"))
        .select(F.col("root").alias("s"), F.col("id").alias("d"))
        .distinct()
    )
    comp = Graph(pairs).connected_components()
    ids = df.select(F.col(id_col).alias("v"))
    labeled = (
        ids.join(comp, "v", "left")
        .select(
            F.col("v").alias(id_col),
            F.coalesce("component", F.col("v")).alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(id_col)
    return labeled.withColumn(
        "is_canonical", F.row_number().over(w) == 1
    )


def ngram_contamination(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: per train doc, the number of DISTINCT
    word n-grams it shares with the eval/benchmark corpus →
    (train_id, n_shared). The standard pre-training hygiene pass
    (drop or flag train docs that leak eval content).

    Shape at 100 TB: the eval side — benchmarks are tiny next to a
    crawl — deduplicates and broadcasts; the exploded train (doc, gram)
    stream is semi-joined against it MAP-SIDE BEFORE any dedup, so the
    only train data ever shuffled is the (rare) grams that actually hit
    the eval set. Never all-pairs: a train doc meets only the grams it
    contains. (Order matters: distinct-then-join would shuffle the full
    train gram stream — review finding, round 5.)"""
    tsh = exploded_shingles(train, id_col, text_col, n).select(
        F.col("id").alias("train_id"), "sh"
    )
    if id_col not in eval_docs.columns:
        # pre-refactor contract: the eval side only needs text
        eval_docs = eval_docs.withColumn(
            id_col, F.monotonically_increasing_id()
        )
    esh = (
        exploded_shingles(eval_docs, id_col, text_col, n)
        .select("sh")
        .distinct()
    )
    return (
        tsh.join(F.broadcast(esh), "sh", "left_semi")
        .distinct()
        .groupBy("train_id")
        .agg(F.count("*").alias("n_shared"))
    )


def keep_best_of_cluster(
    df: DataFrame,
    score_col: str,
    num_perm: int = 8,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Curation-grade near-dup resolution: cluster (near_dup_clusters)
    then KEEP THE BEST document per cluster by `score_col` (ties: min
    id) instead of the arbitrary min-id canonical — e.g. keep the
    longest or highest-quality variant of a boilerplate family, which
    is what a training-data pipeline actually wants. One extra
    cluster-keyed window over the already-clustered rows; same
    LSH-bounded scale shape as qd5."""
    from pyspark.sql.window import Window as W

    clusters = near_dup_clusters(
        df, num_perm=num_perm, bands=bands, id_col=id_col,
        text_col=text_col,
    ).select(id_col, "cluster_id")
    scored = clusters.join(df.select(id_col, score_col), id_col)
    w = W.partitionBy("cluster_id").orderBy(
        F.desc(score_col), F.col(id_col)
    )
    return scored.withColumn("kept", F.row_number().over(w) == 1).select(
        id_col, "cluster_id", "kept"
    )


def ngram_contamination_report(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The eval-side view of decontamination: per EVAL doc, what
    fraction of its distinct n-grams appear anywhere in train →
    (eval_id, n_grams, n_hit, frac). This is the report a benchmark
    owner reads ("how burned is this eval?"), complementing
    `ngram_contamination`'s per-train-doc flags.

    Same 100 TB shape discipline: the train gram stream is semi-joined
    MAP-SIDE against the broadcast eval gram set before its distinct,
    so only eval-hitting train grams (bounded by the eval gram count)
    ever shuffle; the per-eval flags then join against that SMALL
    survivor set broadcast."""
    esh = (
        exploded_shingles(eval_docs, id_col, text_col, n)
        .select(F.col("id").alias("eval_id"), "sh")
        .distinct()
    )
    ekeys = esh.select("sh").distinct()
    hit = (
        exploded_shingles(train, id_col, text_col, n).select("sh")
        .join(F.broadcast(ekeys), "sh", "left_semi")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    flagged = esh.join(F.broadcast(hit), "sh", "left")
    h = F.col("_hit").isNotNull().cast("int")
    return flagged.groupBy("eval_id").agg(
        F.count("*").cast("bigint").alias("n_grams"),
        F.sum(h).cast("bigint").alias("n_hit"),
        F.round(F.avg(h.cast("double")), 6).alias("frac"),
    )
