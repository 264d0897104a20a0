"""Tolerance / self-consistency tests for the LLM ops that sit outside
the hash set (SURVEY §5.3/§5.4): ANN recall vs exact, multi-band LSH
superset property, SimHash fast path, multimodal plumbing, exact dedup.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sora_spark.catalog import tables
from sora_spark.llm import ann, dedup, multimodal, textstats


def test_lsh_ann_recall(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    probes = emb.filter(F.col("vec_id") < 20)
    exact = ann.brute_force_topk(emb, probes, k=3)
    approx = ann.lsh_topk(emb, probes, k=3, n_planes=4)
    e = {(r["probe_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["probe_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 4 planes + hamming-1 multi-probe -> each probe scans ~5/16 of the
    # corpus; on unclustered random vectors expect recall well above
    # that scan fraction (neighbors correlate with bucket signs).
    # Deterministic (fixed data + seed): measured 0.467 at sf0.001
    # (round-3 calibration, SCALE.md §recall) — floor is that − margin.
    assert recall >= 0.45, f"LSH recall {recall:.2f} too low"
    # approx results must be a subset of valid neighbors (sane sims)
    assert all(r["sim"] <= 1.0 for r in approx.collect())


def test_ivf_ann_recall(spark, sf_dir):
    emb = tables(spark, sf_dir).embeddings
    probes = emb.filter(F.col("vec_id") < 20)
    exact = ann.brute_force_topk(emb, probes, k=3)
    approx = ann.ivf_topk(emb, probes, k=3, n_centroids=8, n_probe=4)
    e = {(r["probe_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["probe_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # probes scan ~n_probe/n_centroids of the corpus; nearest-centroid
    # correlation should beat that fraction comfortably.
    # Deterministic: measured 0.85 at sf0.001 (round-3 calibration).
    assert recall >= 0.75, f"IVF recall {recall:.2f} too low"


def test_multiband_lsh_superset_of_1band(spark, sf_dir):
    """More bands can only ADD candidate pairs relative to one of its
    bands alone; sanity: pairs are (a < b) and distinct."""
    docs = tables(spark, sf_dir).documents
    pairs = dedup.lsh_candidate_pairs(docs, num_perm=8, bands=4)
    rows = pairs.collect()
    assert all(r["a"] < r["b"] for r in rows)
    assert len(rows) == len({(r["a"], r["b"]) for r in rows})


def test_minhash_lsh_recall_vs_exact_jaccard(spark, sf_dir):
    """qd4's default banding (4 perms, 2 bands) recalls essentially
    every true J>=0.5 pair: measured 1.0 at sf0.001 and 0.996 at sf0.1
    (round-3 calibration, SCALE.md §recall)."""
    from sora_spark.functions.text import word_shingles

    docs = tables(spark, sf_dir).documents
    sh = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(word_shingles(F.col("text"), 3)).alias("sh"),
    ).distinct()
    pairs = (
        sh.alias("x")
        .join(
            sh.alias("y"),
            (F.col("x.sh") == F.col("y.sh"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )
    jac = dedup.jaccard_over_pairs(pairs, docs)
    truth = {(r["a"], r["b"]) for r in
             jac.filter(F.col("jaccard") >= 0.5).collect()}
    assert truth, "fixture should contain planted near-dup docs"
    got = {(r["a"], r["b"]) for r in
           dedup.lsh_candidate_pairs(docs, num_perm=4, bands=2).collect()}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.95, f"MinHash LSH recall {recall:.2f} too low"


def test_embedding_neardup_multiband_recall(spark, sf_dir):
    """Banding amplification on sign-LSH: 8 narrow bands (3 planes,
    seeds 7..14) recall = 1-(1-p^3)^8 — measured 0.87 at both sf0.001
    and sf0.1 for threshold 0.3, vs 0.05 single-band (SCALE.md
    §recall). Deterministic given data + seeds."""
    emb = tables(spark, sf_dir).embeddings
    truth = {(r["a"], r["b"]) for r in
             ann.near_duplicate_pairs(emb, threshold=0.3).collect()}
    multi = {(r["a"], r["b"]) for r in
             ann.near_duplicate_pairs_lsh(
                 emb, threshold=0.3, n_planes=3, n_bands=8).collect()}
    single = {(r["a"], r["b"]) for r in
              ann.near_duplicate_pairs_lsh(
                  emb, threshold=0.3, n_planes=6).collect()}
    # every candidate is a TRUE pair (thresholded inside buckets)
    assert multi <= truth and single <= truth
    r_multi = len(multi & truth) / len(truth)
    r_single = len(single & truth) / len(truth)
    assert r_multi >= 0.8, f"multi-band recall {r_multi:.2f} too low"
    assert r_multi > r_single, "banding must amplify recall"


def test_simhash_fast_path(spark, sf_dir):
    """xxhash64 SimHash: 64-bit fingerprints, deterministic across runs,
    identical texts get identical fingerprints."""
    docs = tables(spark, sf_dir).documents.limit(50)
    fp1 = {r["id"]: r["simhash"] for r in dedup.simhash_fast(docs).collect()}
    fp2 = {r["id"]: r["simhash"] for r in dedup.simhash_fast(docs).collect()}
    assert fp1 == fp2
    assert all(isinstance(v, int) for v in fp1.values())


def test_multimodal_feature_plumbing(spark, sf_dir):
    docs = tables(spark, sf_dir).documents.limit(20)
    with_payload = multimodal.attach_payload(docs, "text", "text/plain")
    feats = multimodal.extract_features(with_payload, n_features=8).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r["features"]) == 8
        assert all(0.0 <= v < 1.0 for v in r["features"])
    # deterministic stub: same payload -> same features
    again = multimodal.extract_features(with_payload, n_features=8).collect()
    assert sorted(map(tuple, ((r["doc_id"], tuple(r["features"])) for r in feats))) == \
           sorted(map(tuple, ((r["doc_id"], tuple(r["features"])) for r in again)))


def test_dedup_exact_keeps_first(spark, sf_dir):
    docs = tables(spark, sf_dir).documents
    deduped = dedup.dedup_exact(docs)
    n_distinct = docs.select(
        F.countDistinct(F.md5(F.lower(F.trim(F.col("text")))))
    ).collect()[0][0]
    assert deduped.count() == n_distinct


def test_ivf_index_write_prunes_partitions(spark, sf_dir, tmp_path):
    """write_ivf_index -> Hive-partitioned inverted lists; probing via
    ivf_topk_indexed must (a) reach only the candidate cid partitions
    (PartitionFilters on _cid in the scan) and (b) return exactly what
    the in-memory ivf_topk computes with the same deterministic
    centroids."""
    import contextlib
    import io

    emb = tables(spark, sf_dir).embeddings
    probes = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivf")
    ann.write_ivf_index(emb, path, n_centroids=8, iters=2)

    res = ann.ivf_topk_indexed(spark, path, probes, k=3, n_probe=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        res.explain("formatted")
    pf = [l for l in buf.getvalue().splitlines() if "PartitionFilters" in l]
    assert pf and "_cid" in pf[0], (
        "probe scan must prune inverted-list partitions:\n" + buf.getvalue()
    )

    mem = ann.ivf_topk(emb, probes, k=3, n_centroids=8, n_probe=2, iters=2)
    got = sorted(map(tuple, res.collect()))
    want = sorted(map(tuple, mem.collect()))
    assert got == want


def test_ann_shuffle_probe_path_matches_broadcast(spark, sf_dir):
    """broadcast_probes=False (the beyond-broadcast batch shape) must
    return identical results via a two-sided shuffle on the bucket key."""
    emb = tables(spark, sf_dir).embeddings
    probes = emb.filter(F.col("vec_id") < 10)
    for fn in (
        lambda b: ann.lsh_topk(emb, probes, k=3, n_planes=4,
                               broadcast_probes=b),
        lambda b: ann.ivf_topk(emb, probes, k=3, n_centroids=8, n_probe=2,
                               broadcast_probes=b),
    ):
        want = sorted(map(tuple, fn(True).collect()))
        got = sorted(map(tuple, fn(False).collect()))
        assert got == want


def test_exact_knn_shuffle_path_matches_broadcast(spark, sf_dir):
    """brute_force_topk_shuffle (block-partitioned exact kNN, ql4b) must
    equal the broadcast path even with auto-broadcast disabled — i.e. as
    a genuine two-sided shuffle join, the way it would run when the
    probe set exceeds broadcast size on a cluster."""
    emb = tables(spark, sf_dir).embeddings
    probes = emb.filter(F.col("vec_id") < 10)
    want = sorted(map(tuple, ann.brute_force_topk(emb, probes, k=3).collect()))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got = sorted(
            map(
                tuple,
                ann.brute_force_topk_shuffle(
                    emb, probes, k=3, n_blocks=4
                ).collect(),
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == want


def test_multimodal_frame_sampling(spark, sf_dir):
    """sample_frames: JVM-side strided binary slicing — frame counts
    follow the stride formula, bytes match the payload slice, and short
    payloads yield no frames."""
    from sora_spark.llm.multimodal import attach_payload, sample_frames

    docs = tables(spark, sf_dir).documents.limit(50)
    with_payload = attach_payload(docs, "text", "video/fake")
    frames = sample_frames(with_payload, frame_bytes=16, stride=32)
    rows = frames.collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    seen_docs = set()
    for r in rows:
        raw = texts[r["doc_id"]].encode()
        off = r["frame_idx"] * 32
        assert bytes(r["frame"]) == raw[off:off + 16]
        seen_docs.add(r["doc_id"])
    for doc_id, t in texts.items():
        n = len(t.encode())
        expect = 0 if n < 16 else (n - 16) // 32 + 1
        got_n = sum(1 for r in rows if r["doc_id"] == doc_id)
        assert got_n == expect, (doc_id, n, got_n, expect)


def test_scrub_pii(spark):
    """Emails/URLs/digit runs replaced with typed tokens; counts per
    doc; clean text untouched."""
    docs = spark.createDataFrame(
        [
            (1, "contact bob@example.com or visit https://ex.com/a?b=1 now"),
            (2, "call +1 (555) 123-4567 today"),
            (3, "perfectly clean text"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {r["doc_id"]: (r["text_scrubbed"], r["n_scrubbed"])
           for r in textstats.scrub_pii(docs).collect()}
    assert out[1] == ("contact <EMAIL> or visit <URL> now", 2)
    assert out[2] == ("call <NUM> today", 1)
    assert out[3] == ("perfectly clean text", 0)


def test_curation_pipeline(spark, sf_dir):
    """End-to-end curate(): dedup keeps lowest doc_id per normalized
    text; repetition/min-word filters applied; yield report accounts
    every input doc exactly once."""
    from sora_spark.llm import curate

    docs = tables(spark, sf_dir).documents
    curated = curate.curate(docs, max_dup_word_frac=0.9,
                            max_top_word_frac=0.9, min_words=3)
    n_in, n_out = docs.count(), curated.count()
    assert 0 < n_out <= n_in
    # dedup: no two surviving docs share normalized text
    assert (
        curated.join(
            docs.select("doc_id", "text"), "doc_id"
        ).select(F.md5(F.lower(F.trim("text")))).distinct().count() == n_out
    )
    # filters honored
    assert curated.filter(
        (F.col("n_words") < 3) | (F.col("dup_word_frac") > 0.9)
    ).count() == 0
    rep = curate.yield_report(docs, curated)
    rows = rep.collect()
    assert sum(r["docs_in"] for r in rows) == n_in
    assert sum(r["docs_out"] for r in rows) == n_out
    assert all(0 <= r["doc_yield"] <= 1 for r in rows)


def test_streaming_rate_source(spark):
    """The rate source (synthetic benchmark stream) produces
    monotonically timestamped rows — the load-generator surface for
    streaming tests without fixture files."""
    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .load()
        .writeStream.format("memory")
        .queryName("rate_probe")
        .outputMode("append")
        .start()
    )
    try:
        import time
        deadline = time.time() + 20
        n = 0
        while time.time() < deadline:
            n = spark.table("rate_probe").count()
            if n >= 50:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert n >= 50
    vals = [r["value"] for r in spark.table("rate_probe").collect()]
    assert sorted(vals) == list(range(len(vals))), "values must be gapless"


def test_near_dup_clusters_transitive_merge(spark):
    """a≈b and b≈c (but a,c sharing no shingle bucket directly) must
    land in ONE cluster; unrelated docs stay singletons; exactly one
    canonical per cluster."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),     # ~ doc 1
            (3, "gamma delta epsilon eta theta iota"),     # ~ doc 2
            (10, "completely different words entirely here now"),
        ],
        "doc_id LONG, text STRING",
    )
    out = dedup.near_dup_clusters(docs, num_perm=8, bands=8)
    rows = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
            for r in out.collect()}
    assert rows[1][0] == rows[2][0] == rows[3][0], rows
    assert rows[10][0] == 10
    canon = [d for d, (_, c) in rows.items() if c]
    assert sorted(canon) == [1, 10]
    # cluster count conservation: every doc labeled exactly once
    assert len(rows) == 4


def test_near_dup_clusters_star_equivalence(spark):
    """r15: near_dup_clusters derives its edges as per-bucket STARS
    (min-id -> member), not the k(k-1)/2 candidate-pair cliques —
    a bucket is exactly as connected either way, so clusters must be
    IDENTICAL to a reference union-find over the full
    lsh_candidate_pairs set. Fixture stresses the shapes that could
    diverge: a HOT bucket (12 near-identical boilerplate docs — the
    quadratic case the star form exists to bound), a transitive chain
    whose ends share no bucket, cross-band-only links, singletons and
    short (null-signature) docs."""
    rows = [(100 + i, "terms of service apply to all users section "
             + ("alpha" if i % 2 else "beta")) for i in range(12)]
    rows += [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "gamma delta epsilon eta theta iota"),
        (10, "completely different words entirely here now"),
        (11, "short"),
        (12, "also short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    for num_perm, bands in ((8, 8), (8, 4), (4, 2)):
        pairs = dedup.lsh_candidate_pairs(
            docs, num_perm=num_perm, bands=bands
        ).collect()
        parent = {r[0]: r[0] for r in rows}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in pairs:
            ra, rb = find(r["a"]), find(r["b"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {d: find(d) for d in parent}
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.near_dup_clusters(
                docs, num_perm=num_perm, bands=bands
            ).collect()
        }
        assert got == want, (num_perm, bands)


def test_hll_sketch_merge(spark, sf_dir):
    """Mergeable HLL sketches (Datasketches): per-group sketches
    unioned equal a one-shot sketch estimate, and both land within 5%
    of exact — the pre-aggregate-then-merge shape that makes
    count-distinct feasible over 100 TB partitions."""
    li = tables(spark, sf_dir).lineitem
    exact = li.select(F.countDistinct("l_partkey")).first()[0]
    per_group = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    merged = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).first()["est"]
    oneshot = li.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey")).alias("est")
    ).first()["est"]
    assert abs(merged - exact) / exact <= 0.05
    assert abs(oneshot - exact) / exact <= 0.05


def test_pack_documents_budget(spark):
    """Per-partition greedy packing: every bin's capped-token fill is
    <= budget (hard invariant), oversized docs sit alone in their bin,
    every doc packed exactly once."""
    from sora_spark.llm.curate import pack_documents

    docs = spark.createDataFrame(
        [(i, 300) for i in range(10)] + [(100, 5000)],
        "doc_id LONG, n_tokens LONG",
    ).repartition(3)
    out = pack_documents(docs, token_budget=1000)
    rows = out.collect()
    assert len(rows) == 11
    assert len({r["doc_id"] for r in rows}) == 11
    by_bin: dict = {}
    for r in rows:
        by_bin.setdefault(r["bin_id"], []).append(r)
    for b, rs in by_bin.items():
        fill = sum(min(r["n_tokens"], 1000) for r in rs)
        assert fill <= 1000, (b, fill)
    big = [r for r in rows if r["doc_id"] == 100][0]
    assert [r["doc_id"] for r in by_bin[big["bin_id"]]] == [100]


def test_pack_documents_string_ids(spark):
    """Non-long id columns pack too: the output schema derives the id
    type from the input instead of hardcoding long."""
    from sora_spark.llm.curate import pack_documents

    docs = spark.createDataFrame(
        [(f"doc-{i}", 400) for i in range(6)],
        "doc_id STRING, n_tokens LONG",
    ).coalesce(1)
    rows = pack_documents(docs, token_budget=1000).collect()
    assert {r["doc_id"] for r in rows} == {f"doc-{i}" for i in range(6)}
    by_bin: dict = {}
    for r in rows:
        by_bin.setdefault(r["bin_id"], []).append(r["n_tokens"])
    for fill in by_bin.values():
        assert sum(fill) <= 1000


def test_split_by_hash_deterministic_and_proportional(spark, sf_dir):
    """Hash splits: stable across repartitioning, proportions within
    binomial noise, every row assigned exactly one split."""
    import math

    from sora_spark.llm.curate import split_by_hash

    docs = tables(spark, sf_dir).documents
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = split_by_hash(docs, fr)
    b = split_by_hash(docs.repartition(7), fr)
    ra = {r["doc_id"]: r["split"] for r in a.select("doc_id", "split").collect()}
    rb = {r["doc_id"]: r["split"] for r in b.select("doc_id", "split").collect()}
    assert ra == rb, "split must be independent of partitioning"
    n = len(ra)
    counts = {s: sum(1 for v in ra.values() if v == s) for s in fr}
    assert sum(counts.values()) == n
    for s, frac in fr.items():
        sigma = math.sqrt(n * frac * (1 - frac))
        assert abs(counts[s] - n * frac) <= 4 * sigma + 1, (s, counts[s])


def test_lsh_short_docs_never_pair(spark):
    """Docs with fewer words than the shingle width have no MinHash
    evidence — they must NOT all share an empty band key and collapse
    into one cluster (round-3 review finding)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "totally different"), (3, "x"),
         (4, "one two three four five"), (5, "one two three four five")],
        "doc_id LONG, text STRING",
    )
    pairs = {(r["a"], r["b"]) for r in
             dedup.lsh_candidate_pairs(docs, num_perm=4, bands=2).collect()}
    assert pairs == {(4, 5)}, pairs
    clusters = {r["doc_id"]: r["cluster_id"] for r in
                dedup.near_dup_clusters(docs, num_perm=4,
                                        bands=2).collect()}
    assert clusters == {1: 1, 2: 2, 3: 3, 4: 4, 5: 4}


def test_ann_recall_on_clustered_corpus(spark):
    """SCALE.md's round-3 caveat closed: the sf fixtures' UNIFORM
    random embeddings are the worst case for partition-based ANN, so
    recall floors measured there said nothing about real corpora.
    On a deliberately clustered corpus (20 tight gaussian clusters on
    the unit sphere, deterministic seed) IVF recall@10 jumps to 0.98
    at a ~12% scan fraction (vs 0.76-0.85 at 37-50% scan on uniform;
    full sweep in SCALE.md §clustered-recall). Floors here are the
    round-5 measured values minus margin."""
    import numpy as np
    import pandas as pd

    from sora_spark.llm import ann

    rng = np.random.RandomState(42)
    n_clusters, per, dim = 20, 100, 64
    centers = rng.randn(n_clusters, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = np.repeat(centers, per, axis=0) + 0.15 * rng.randn(n_clusters * per, dim)
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": range(len(pts)),
                "embedding": [r.astype(float).tolist() for r in pts],
            }
        )
    )
    probes = corpus.filter("vec_id % 20 = 0")
    exact = ann.brute_force_topk(corpus, probes, k=10)
    e = {(r["probe_id"], r["neighbor_id"]) for r in exact.collect()}

    ivf = ann.ivf_topk(corpus, probes, k=10, n_centroids=16, n_probe=2)
    a = {(r["probe_id"], r["neighbor_id"]) for r in ivf.collect()}
    ivf_recall = len(e & a) / len(e)
    assert ivf_recall >= 0.95, f"clustered IVF recall {ivf_recall:.3f}"

    lsh = ann.lsh_topk(corpus, probes, k=10, n_planes=4)
    a = {(r["probe_id"], r["neighbor_id"]) for r in lsh.collect()}
    lsh_recall = len(e & a) / len(e)
    assert lsh_recall >= 0.60, f"clustered LSH recall {lsh_recall:.3f}"


def test_chunking_reconstructs_documents(spark, sf_dir):
    """chunk_documents invariant: dropping each chunk's leading overlap
    (after the first) and concatenating reconstructs the original text
    exactly — no char dropped or duplicated at any boundary."""
    from collections import defaultdict

    from sora_spark.llm.curate import chunk_documents

    docs = tables(spark, sf_dir).documents
    size, overlap = 100, 20
    rows = chunk_documents(docs, size=size, overlap=overlap).collect()
    by_doc = defaultdict(dict)
    for r in rows:
        by_doc[r["doc_id"]][r["chunk_id"]] = r["chunk_text"]
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert set(by_doc) == set(texts)
    for doc_id, chunks in by_doc.items():
        ordered = [chunks[i] for i in range(len(chunks))]
        rebuilt = ordered[0] + "".join(c[overlap:] for c in ordered[1:])
        assert rebuilt == texts[doc_id], f"doc {doc_id} mangled"
        assert all(len(c) <= size for c in ordered)


def test_pca_self_consistency(spark, sf_dir):
    """PCA invariants (sign-invariant, hence testable without an
    eigensolver oracle): projected-dimension variances equal the
    eigenvalues, eigenvalues are descending, distinct projected
    dimensions are uncorrelated, and the top-k eigenvalue mass never
    exceeds the total variance (trace)."""
    from sora_spark.llm import pca

    emb = tables(spark, sf_dir).embeddings
    k, dims = 4, 16
    model = pca.fit_pca(emb, k=k, dims=dims)
    assert len(model.components) == k
    assert all(
        a >= b - 1e-9
        for a, b in zip(model.eigenvalues, model.eigenvalues[1:])
    ), "eigenvalues must be descending"

    proj = pca.project(emb, model)
    aggs = [F.var_pop(f"p{i}").alias(f"v{i}") for i in range(k)] + [
        F.covar_pop(f"p{i}", f"p{j}").alias(f"cv{i}_{j}")
        for i in range(k)
        for j in range(i + 1, k)
    ]
    row = proj.agg(*aggs).collect()[0]
    scale = max(model.eigenvalues[0], 1e-12)
    for i in range(k):
        assert abs(row[f"v{i}"] - model.eigenvalues[i]) <= 1e-6 * scale, (
            f"projected var {row[f'v{i}']} != eigenvalue "
            f"{model.eigenvalues[i]} for component {i}"
        )
    for i in range(k):
        for j in range(i + 1, k):
            assert abs(row[f"cv{i}_{j}"]) <= 1e-6 * scale, (
                f"components {i},{j} correlated: {row[f'cv{i}_{j}']}"
            )
    # top-k mass bounded by total variance
    import numpy as np

    total_var = sum(
        emb.agg(
            *[
                F.var_pop(
                    F.element_at(F.col("embedding"), i + 1).cast("double")
                ).alias(f"tv{i}")
                for i in range(dims)
            ]
        ).collect()[0]
    )
    assert sum(model.eigenvalues) <= total_var + 1e-6 * scale


def test_int8_quantized_topk_recall(spark, sf_dir):
    """The qvq1 use case: cosine top-10 computed on int8-quantized
    vectors must recover >= 8 of the exact top-10 (first-pass scan /
    exact re-score contract). Also pins the error bound: per-element
    |x - q*scale| <= scale/2 by construction."""
    from sora_spark.catalog import tables
    from sora_spark.functions import vector

    emb = tables(spark, sf_dir).embeddings
    v = F.col("embedding")
    scale = vector.int8_scale(v)
    deq = F.zip_with(
        vector.quantize_int8(v, scale),
        F.array_repeat(scale, F.size(v)),
        lambda q, s: q * s,
    )
    base = emb.select("vec_id", v.alias("embedding"), deq.alias("dq"))
    probe = base.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("p_exact"), F.col("dq").alias("p_q")
    )
    scored = base.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(probe))
    exact = [
        r["vec_id"]
        for r in scored.select(
            "vec_id", vector.cosine(F.col("embedding"), F.col("p_exact")).alias("s")
        ).orderBy(F.desc("s"), "vec_id").limit(10).collect()
    ]
    quant = [
        r["vec_id"]
        for r in scored.select(
            "vec_id", vector.cosine(F.col("dq"), F.col("p_q")).alias("s")
        ).orderBy(F.desc("s"), "vec_id").limit(10).collect()
    ]
    assert len(set(exact) & set(quant)) >= 8, (exact, quant)

    # error bound |x - q*scale| <= scale/2 (+ float-cast epsilon)
    bad = emb.select(
        F.aggregate(
            F.zip_with(
                vector.to_double(v),
                vector.quantize_int8(v, vector.int8_scale(v)),
                lambda x, q: F.abs(x - q * vector.int8_scale(F.col("embedding"))),
            ),
            F.lit(0.0),
            lambda acc, e: F.greatest(acc, e),
        ).alias("maxerr"),
        (vector.int8_scale(v) / 2 + F.lit(1e-9)).alias("bound"),
    ).filter(F.col("maxerr") > F.col("bound"))
    assert bad.count() == 0


def test_compression_ratio_signal(spark, sf_dir):
    """compression_ratio invariants: deterministic; a pathologically
    repetitive document compresses far below natural-looking text;
    ratios bounded in (0, 1.5] (zlib header overhead can push very
    short docs above 1.0); fixture docs all produced."""
    from sora_spark.catalog import tables
    from sora_spark.llm.textstats import compression_ratio

    docs = tables(spark, sf_dir).documents
    out1 = {r["doc_id"]: r["ratio"] for r in compression_ratio(docs).collect()}
    out2 = {r["doc_id"]: r["ratio"] for r in compression_ratio(docs).collect()}
    assert out1 == out2
    assert len(out1) == docs.count()
    assert all(0 < v <= 1.5 for v in out1.values())

    synth = spark.createDataFrame(
        [
            (1, "spam " * 200),
            (2, " ".join(f"w{i}x{i * 7 % 13}" for i in range(200))),
        ],
        "doc_id long, text string",
    )
    r = {x["doc_id"]: x["ratio"] for x in compression_ratio(synth).collect()}
    assert r[1] < 0.1 < r[2], r


def test_simhash_hamming_guards(spark):
    """simhash_hamming_pairs rejects parameterizations that would
    silently lose the recall guarantee (max_hamming >= n_bands) or
    mis-slice the fingerprint (bands not dividing 32)."""
    import pytest

    from sora_spark.llm.dedup import simhash_hamming_pairs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="recall guarantee"):
        simhash_hamming_pairs(docs, max_hamming=4, n_bands=4)
    with pytest.raises(ValueError, match="divide 32"):
        simhash_hamming_pairs(docs, max_hamming=2, n_bands=5)


def test_simhash_hamming_detects_planted_neardup(spark):
    """A document pair differing by one token lands within Hamming 3
    of each other while unrelated docs don't pair — the operator's
    actual dedup purpose, pinned on a constructed corpus."""
    base = " ".join(f"tok{i}" for i in range(60))
    near = base.replace("tok30", "tok30x")
    other = " ".join(f"zzz{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    from sora_spark.llm.dedup import simhash_hamming_pairs

    pairs = {
        (r["a"], r["b"])
        for r in simhash_hamming_pairs(docs, max_hamming=3).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_pca_projection_matches_numpy(spark, sf_dir):
    """External cross-check (stronger than self-consistency): the
    distributed moments + driver eigh must reproduce full numpy PCA on
    the collected matrix — eigenvalues exactly, components and
    projections up to the eigenvector sign."""
    import numpy as np

    from sora_spark.llm import pca

    dims, k = 16, 3
    emb = tables(spark, sf_dir).embeddings
    X = np.array(
        [r["embedding"][:dims] for r in emb.orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    model = pca.fit_pca(emb, k=k, dims=dims)
    cov = np.cov(X, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:k]
    assert np.allclose(model.eigenvalues, vals[order], atol=1e-8)
    signs = []
    for got, idx in zip(model.components, order):
        ref = vecs[:, idx]
        s = 1.0 if np.dot(got, ref) >= 0 else -1.0
        signs.append(s)
        assert np.allclose(got, s * ref, atol=1e-6)
    proj = pca.project(emb, model).orderBy("vec_id")
    got = np.array([[r[f"p{i}"] for i in range(k)] for r in proj.collect()])
    want = (X - X.mean(axis=0)) @ (vecs[:, order] * np.array(signs))
    assert np.allclose(got, want, atol=1e-6)


def test_bpe_greedy_merge_and_reference(spark):
    """bpe.merge_pair fuses overlapping runs leftmost-first ('aaa' ->
    [aa, a]); bpe.train matches a pure-Python reference BPE on a tiny
    corpus (same tie rule: count desc, then (a, b) lexicographic)."""
    from pyspark.sql import functions as F

    from sora_spark.llm import bpe

    d = spark.createDataFrame([("aaab",), ("banana",)], "word string")
    got = {
        r.word: r.m
        for r in d.select(
            "word",
            bpe.merge_pair(bpe.chars("word"), "a", "a").alias("m"),
        ).collect()
    }
    assert got["aaab"] == ["aa", "a", "b"]
    assert got["banana"] == ["b", "a", "n", "a", "n", "a"]

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new")],
        "doc_id bigint, text string",
    )
    merges, final = bpe.train(bpe.word_counts(docs), 5)

    # pure-Python reference (Sennrich alg. 1, greedy apply, same ties)
    from collections import Counter

    words = Counter()
    for _, text in [(1, "low lower lowest low low"), (2, "new newer newest new")]:
        for w in text.split(" "):
            if w:
                words[w] += 1
    syms = {w: [c for c in w] for w in words}
    ref = []
    for _ in range(5):
        pairs = Counter()
        for w, n in words.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += n
        if not pairs:
            break
        (a, b), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        ref.append((a, b, cnt))
        for w in syms:
            s, out = syms[w], []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms[w] = out
    assert merges == ref
    got_syms = {
        r.word: r.sym for r in final.select("word", "sym").collect()
    }
    assert got_syms == syms


def _ref_sennrich(vocab: dict, n_merges: int) -> list:
    """Pure-Python Sennrich reference: naive full pair recount per
    round — slow but obviously correct, same (cnt desc, a, b) ties
    and greedy leftmost-first apply as both engine trainers."""
    from collections import Counter

    syms = {w: list(w) for w in vocab}
    ref = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, n in vocab.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += n
        if not pairs:
            break
        (a, b), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        ref.append((a, b, cnt))
        for w in vocab:
            s, out = syms[w], []
            for x in s:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms[w] = out
    return ref


def test_bpe_train_deep(spark, sf_dir):
    """train_deep (r13 verdict item 5 — production-depth BPE). Two
    tiers, because the fixture corpus has only ~31 distinct words and
    EXHAUSTS its merge space at ~89 merges (every word fuses to one
    symbol — an honest property of the synthetic text, asserted, not
    hidden):

    - fixture tier: train_deep runs TO EXHAUSTION on the real corpus
      and equals the pure-Python Sennrich reference merge-for-merge;
      its prefix equals the per-round Spark trainer (the qta15 tier)
      at depth 16; the exhausted merge table still drives a lossless
      encode_words round-trip.
    - depth tier: a deterministic 2000-word synthetic vocabulary
      (seeded, zipf-ish counts) supports a genuine 1000-merge train;
      train_deep(1000) == the Sennrich reference at full depth, and
      the first 16 merges again equal the Spark trainer. Timing for
      the BASELINE merge-depth note is printed (driver-loop wall vs
      the per-round trainer's extrapolated per-merge latency)."""
    import random
    import time

    from sora_spark.llm import bpe

    docs = tables(spark, sf_dir).documents
    wc = bpe.word_counts(docs).localCheckpoint(eager=True)

    # fixture tier: to exhaustion, reference-equal
    deep = bpe.train_deep(wc, 10_000)
    vocab = {r["word"]: int(r["n"]) for r in wc.collect()}
    assert len(deep) < 10_000  # the tiny-vocab corpus exhausts
    assert deep == _ref_sennrich(vocab, 10_000)
    shallow, _ = bpe.train(wc, 16)
    assert deep[:16] == shallow
    enc = bpe.encode_words(wc, deep)
    assert enc.filter(
        F.concat_ws("", F.col("tokens")) != F.col("word")
    ).count() == 0

    # depth tier: 1000 real merges on a 2000-word vocabulary
    rng = random.Random(5)
    big_vocab: dict = {}
    while len(big_vocab) < 2000:
        w = "".join(
            rng.choice("abcdefghijklmnopqrstuvwxyz")
            for _ in range(rng.randint(4, 14))
        )
        if w not in big_vocab:
            big_vocab[w] = 1 + int(2000 / (len(big_vocab) + 1))
    big_wc = spark.createDataFrame(
        sorted(big_vocab.items()), "word string, n bigint"
    ).localCheckpoint(eager=True)

    t0 = time.perf_counter()
    deep2 = bpe.train_deep(big_wc, 1000)
    deep_s = time.perf_counter() - t0
    assert len(deep2) == 1000, len(deep2)
    assert deep2 == _ref_sennrich(dict(big_vocab), 1000)
    t0 = time.perf_counter()
    shallow2, _ = bpe.train(big_wc, 16)
    spark_16_s = time.perf_counter() - t0
    assert deep2[:16] == shallow2

    # max_vocab cap (r14 verdict item 4: Heaps' law is an argument,
    # not a guard): a cap >= the vocabulary is a no-op; a binding cap
    # trains on exactly the top-N-by-(n desc, word) types — the same
    # merges the Sennrich reference learns from that truncated
    # vocabulary — so the collect is bounded without changing what
    # "train on the frequent types" means
    assert bpe.train_deep(big_wc, 50, max_vocab=2000) == deep2[:50]
    top500 = dict(
        sorted(big_vocab.items(), key=lambda kv: (-kv[1], kv[0]))[:500]
    )
    assert bpe.train_deep(big_wc, 50, max_vocab=500) == _ref_sennrich(
        top500, 50
    )
    print(
        f"[bpe-depth] train_deep(1000)={deep_s:.2f}s on 2000-word "
        f"vocab; spark train(16)={spark_16_s:.2f}s "
        f"(~{spark_16_s / 16:.2f}s/merge -> "
        f"~{spark_16_s / 16 * 1000:.0f}s at depth 1000)"
    )


def test_bpe_encode_roundtrip_and_twins(spark, sf_dir):
    """qta20's encoder invariants on the real corpus: (1) ROUND-TRIP —
    concatenating each word's tokens reproduces the word exactly, for
    every distinct word; (2) the Arrow pandas encoder (encode_words,
    the broadcast-merge-table scale path) is value-identical to the
    JVM fold-chain twin (apply_merges, qta15's merge_pair logic) AND
    to train()'s own final symbolization — three independent
    implementations of sequential greedy BPE apply, one answer."""
    from sora_spark.llm import bpe

    docs = tables(spark, sf_dir).documents
    wc = bpe.word_counts(docs).localCheckpoint(eager=True)
    merges, final = bpe.train(wc, 6)
    assert len(merges) == 6

    enc = bpe.encode_words(wc, merges)
    bad = enc.filter(
        F.concat_ws("", F.col("tokens")) != F.col("word")
    ).count()
    assert bad == 0

    jvm = bpe.apply_merges(
        wc.select("word", "n", bpe.chars("word").alias("sym")), merges
    )
    pand = {r.word: r.tokens for r in enc.select("word", "tokens").collect()}
    fold = {r.word: r.sym for r in jvm.select("word", "sym").collect()}
    train_syms = {r.word: r.sym for r in final.select("word", "sym").collect()}
    assert pand == fold == train_syms
    # encoding is non-trivial at 6 merges: some word actually fused
    assert any(len(t) < len(w) for w, t in pand.items())


def test_bpe_ranked_encoder_matches_sequential(spark, sf_dir):
    """encode_words_ranked (lowest-rank-first, the production-scale
    encoder whose per-word cost is independent of merge-list size)
    must be token-identical to encode_words (training-order replay,
    the oracle-matching reference) over every distinct corpus word —
    at a DEEPER merge count (12) than any oracle-gated row uses, so
    the equivalence is pinned where the merge interactions are
    richest. Round-trip holds too."""
    from sora_spark.llm import bpe

    docs = tables(spark, sf_dir).documents
    wc = bpe.word_counts(docs).localCheckpoint(eager=True)
    merges, _ = bpe.train(wc, 12)
    assert len(merges) == 12

    seq = {
        r.word: r.tokens
        for r in bpe.encode_words(wc, merges).select("word", "tokens").collect()
    }
    ranked = {
        r.word: r.tokens
        for r in bpe.encode_words_ranked(wc, merges)
        .select("word", "tokens")
        .collect()
    }
    assert ranked == seq
    assert all("".join(t) == w for w, t in ranked.items())


def test_mips_augmentation_matches_dot_ranking(spark, sf_dir):
    """ql11's reduction certificate: the norm-augmented L2 distance
    orders the FULL corpus exactly like the raw inner product (ties
    impossible in the fixture; checked over every rank, not top-10)."""
    from pyspark.sql import functions as F

    from sora_spark.functions import vector

    emb = tables(spark, sf_dir).embeddings
    v = vector.to_double(F.col("embedding"))
    pv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select(v.alias("p"))
        .collect()[0]
        .p
    ]
    corpus = emb.filter(F.col("vec_id") != 0).select("vec_id", v.alias("v"))
    norm2 = F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)
    m2 = corpus.agg(F.max(norm2).alias("m")).collect()[0].m
    pv_arr = F.array(*[F.lit(x) for x in pv])
    diff2 = F.aggregate(
        F.zip_with("v", pv_arr, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    aug = F.sqrt(F.greatest(F.lit(m2) - norm2, F.lit(0.0)))
    dot = F.aggregate(
        F.zip_with("v", pv_arr, lambda a, b: a * b),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    rows = corpus.select(
        "vec_id", (diff2 + aug * aug).alias("ad2"), dot.alias("dot")
    ).collect()
    by_ad2 = [r.vec_id for r in sorted(rows, key=lambda r: (r.ad2, r.vec_id))]
    by_dot = [r.vec_id for r in sorted(rows, key=lambda r: (-r.dot, r.vec_id))]
    assert by_ad2 == by_dot


def test_neardup_clusters_string_ids(spark):
    """Review regression: the driver union-find path must keep the
    Graph fallback's string-id support (component = MIN id by the
    id type's own ordering)."""
    from sora_spark.llm import dedup

    docs = spark.createDataFrame(
        [
            ("urlA", "alpha beta gamma delta epsilon"),
            ("urlB", "alpha beta gamma delta epsilon"),
            ("urlC", "totally different words entirely here"),
        ],
        "doc_id string, text string",
    )
    out = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in dedup.near_dup_clusters(docs, num_perm=4, bands=2).collect()
    }
    assert out["urlA"] == ("urlA", True)
    assert out["urlB"] == ("urlA", False)
    assert out["urlC"][0] == "urlC"


def test_neardup_distributed_fallback_equivalence(spark, sf_dir, monkeypatch):
    """The hybrid's both branches, one answer (VERDICT r08 watch item):
    forcing `_DRIVER_UF_MAX_PAIRS` to 0 routes every pair set through
    the distributed min-label-propagation fallback, which must produce
    the exact (doc_id, cluster_id, is_canonical) set the driver
    union-find produces on the real corpus. This is the correctness
    certificate for the >5M-pair regime that no test-scale corpus can
    reach by size alone."""
    from sora_spark.llm import dedup

    docs = tables(spark, sf_dir).documents
    uf = set(map(tuple, dedup.near_dup_clusters(docs).collect()))
    monkeypatch.setattr(dedup, "_DRIVER_UF_MAX_PAIRS", 0)
    dist = set(map(tuple, dedup.near_dup_clusters(docs).collect()))
    assert uf == dist
    # the corpus actually has near-dup structure: some non-singleton
    # cluster exists, so the two paths agreed on real merges
    assert any(not r[2] for r in uf)


def test_range_search_vectorized_bounds(spark, sf_dir, monkeypatch):
    """Review fixes for the driver-collect path: (1) an EMPTY probe
    relation returns the empty pair set (was: numpy norm crash on a
    0-row matrix) with the full output schema; (2) a probe set past
    the documented driver-collect bound raises with a pointer to
    range_search_shuffle rather than silently OOMing the driver."""
    import pytest as _pytest

    emb = tables(spark, sf_dir).embeddings
    empty = emb.filter(F.lit(False))
    out = ann.range_search_vectorized(empty, emb, threshold=0.9)
    assert out.columns == ["probe_id", "neighbor_id", "sim"]
    assert out.count() == 0

    monkeypatch.setattr(ann, "_RANGE_SEARCH_MAX_PROBES", 10)
    with _pytest.raises(ValueError, match="range_search_shuffle"):
        ann.range_search_vectorized(emb, emb, threshold=0.9)


def test_range_search_vectorized_matches_jvm_shuffle(spark, sf_dir):
    """The BLAS candidate-generator path (ql12's engine) must return
    EXACTLY the pure-JVM blocked-join reference — same pairs, same
    rounded sims. This pins (a) the slack >= rounding-quantum fix
    (review finding: 1e-6 slack sat INSIDE round(,5)'s 0.5e-5
    admission band, so boundary pairs could be pruned before the
    verify stage) and (b) the self-pair contract both paths share.
    Run at a LOW threshold so hundreds of pairs, including
    near-boundary ones, cross the gate."""
    emb = tables(spark, sf_dir).embeddings
    vec = set(
        map(
            tuple,
            ann.range_search_vectorized(
                emb, emb, threshold=0.3, exclude_self=True
            ).collect(),
        )
    )
    ref = set(
        map(
            tuple,
            ann.range_search_shuffle(emb, emb, threshold=0.3).collect(),
        )
    )
    assert len(vec) > 50, "threshold too selective for a meaningful pin"
    assert vec == ref


def test_range_search_vectorized_cross_relation_probes(spark, sf_dir):
    """probes != corpus must work (review finding: the verify stage
    used to resolve probe vectors from the CORPUS by id, so disjoint
    probe ids returned empty and colliding ids certified the wrong
    vector). Split the table into even/odd halves and search across."""
    emb = tables(spark, sf_dir).embeddings
    probes = emb.filter(F.col("vec_id") % 2 == 0)
    corpus = emb.filter(F.col("vec_id") % 2 == 1)
    got = set(
        map(
            tuple,
            ann.range_search_vectorized(
                corpus, probes, threshold=0.3
            ).collect(),
        )
    )
    ref = set(
        map(
            tuple,
            ann.range_search_shuffle(
                corpus, probes, threshold=0.3
            ).collect(),
        )
    )
    assert got == ref and len(got) > 0


def test_pack_documents_multi_partition_invariants(spark, sf_dir):
    """qpipe5's 100 TB path is per-partition greedy packing (the
    single-partition form is only the oracle harness). On 8 real
    partitions: (1) every bin's token total respects the budget
    (oversize docs get a solo bin with capped contribution);
    (2) token mass is conserved; (3) bin count is within
    n_partitions-1 of the single-partition greedy count (at most one
    underfilled bin per partition); (4) bin ids are globally unique
    across partitions (the pid prefix)."""
    from sora_spark.llm import bpe, curate

    docs = tables(spark, sf_dir).documents
    wc = bpe.word_counts(docs).localCheckpoint(eager=True)
    merges, _ = bpe.train(wc, 6)
    wtok = bpe.encode_words(wc, merges).select(
        "word", F.size("tokens").alias("n_tok")
    )
    dt = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .join(wtok, "word")
        .groupBy("doc_id")
        .agg(F.sum("n_tok").cast("long").alias("n_tokens"))
    ).localCheckpoint(eager=True)
    budget = 800

    multi = curate.pack_documents(
        dt.repartition(8), token_budget=budget, token_col="n_tokens"
    ).localCheckpoint(eager=True)
    single = curate.pack_documents(
        dt.coalesce(1), token_budget=budget, token_col="n_tokens"
    )

    per_bin = multi.groupBy("bin_id").agg(
        F.sum(F.least("n_tokens", F.lit(budget))).alias("t"),
        F.count("*").alias("n"),
    )
    over = per_bin.filter(F.col("t") > budget)
    assert over.count() == 0, over.collect()[:5]
    assert (
        multi.agg(F.sum("n_tokens")).collect()[0][0]
        == dt.agg(F.sum("n_tokens")).collect()[0][0]
    )
    # doc conservation: every doc packed exactly once
    assert multi.count() == dt.count()
    assert multi.select("doc_id").distinct().count() == dt.count()

    # bin-count bounds that are THEOREMS of next-fit greedy, not
    # order-coincidences (the earlier n_single±(P-1) window held only
    # by luck of round-robin placement — round-9 review finding:
    # repartition(8) splits the stream into subsequences, not
    # contiguous ranges, so per-partition greedy can land on either
    # side of the single-partition count):
    # - ANY packing needs >= ceil(capped_total / budget) bins;
    # - next-fit opens a bin only when the next doc does not fit, so
    #   adjacent bins sum > budget and each partition emits
    #   <= 2*capped_total_p/budget + 1 bins => globally
    #   <= 2*capped_total/budget + P.
    n_multi = per_bin.count()
    n_single = single.select("bin_id").distinct().count()
    capped_total = dt.agg(
        F.sum(F.least("n_tokens", F.lit(budget)))
    ).collect()[0][0]
    lb = -(-capped_total // budget)
    ub = 2 * capped_total // budget + 8
    assert lb <= n_multi <= ub, (lb, n_multi, ub)
    assert lb <= n_single <= 2 * capped_total // budget + 1, (
        lb, n_single,
    )
    # global uniqueness: every (bin_id) maps to exactly one partition's
    # contiguous doc range — equivalently, ids never collide across
    # partitions, which per_bin.count() == distinct count already
    # implies; assert the pid prefix actually spreads ids
    assert multi.select("bin_id").distinct().count() == n_multi


def test_ivf_clustered_recall(spark, tmp_path):
    """The >=0.9-recall IVF claim, placed where it is meaningful: the
    fixture embeddings are measured isotropic-random (intra- and
    inter-label mean cosine both ~1e-5), where NO partition-based ANN
    can beat its scan fraction — so the B15 bench row gates recall at
    the calibrated isotropic floor, and THIS test proves the quality
    bar on a corpus with real cluster structure: 16 well-separated
    Gaussian clusters, one seed vector per cluster in the first 16 ids
    (round-robin cluster = vec_id % 16, matching kmeans_centroids'
    first-n init), index probed at n_probe=2/16 — a 12.5% scan
    fraction — must reach recall@10 >= 0.9 vs the exact scan."""
    import random

    rng = random.Random(7)
    dim, n_clusters, n_vecs = 16, 16, 640
    cents = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = []
    for vid in range(n_vecs):
        c = cents[vid % n_clusters]
        rows.append(
            (vid, [x + rng.gauss(0.0, 0.05) for x in c], vid % n_clusters)
        )
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label BIGINT"
    )
    probes = emb.filter(F.col("vec_id") % 10 == 0)
    path = str(tmp_path / "ivf_clustered")
    ann.write_ivf_index(emb, path, n_centroids=n_clusters, iters=2)
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in ann.brute_force_topk(emb, probes, k=10).collect()
    }
    got = {
        (r["probe_id"], r["neighbor_id"])
        for r in ann.ivf_topk_indexed(
            spark, path, probes, k=10, n_probe=2
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"clustered IVF recall {recall:.3f} < 0.9"

    # r14 (verdict item 1) + r15 small-corpus clamp: the same quality
    # bar at the SCALED DEFAULTS. 640 vectors sit below one probe's
    # IVF_SCAN_ROWS candidate budget, so the clamp hands back ONE
    # full (exhaustive, exact) list — r14's unclamped √N sliced this
    # corpus into 25 lists of ~26 rows, pure tiny-file overhead (the
    # r14 verdict's one real bench regression). The sizing arithmetic
    # at the scales where the codebook grows is asserted separately
    # below.
    path2 = str(tmp_path / "ivf_scaled")
    cb = ann.write_ivf_index(emb, path2, iters=2)
    assert len(cb) == ann.scaled_ivf_centroids(n_vecs) == 1
    got2 = {
        (r["probe_id"], r["neighbor_id"])
        for r in ann.ivf_topk_indexed(
            spark, path2, probes, k=10, n_probe=None
        ).collect()
    }
    recall2 = len(exact & got2) / len(exact)
    assert recall2 >= 0.9, f"scaled-default recall {recall2:.3f} < 0.9"
    # the sizing rules themselves, at the corpus sizes that matter:
    # per-probe scanned rows ≈ max(IVF_SCAN_ROWS, one list) — flat
    # until a single √N list exceeds the budget, then growing only as
    # √N — so total probe work is at worst N^1.5, never the old
    # fixed-codebook N² (the curve SCALEPROBE q15 measures). The r15
    # clamp additionally floors rows-per-list at IVF_SCAN_ROWS so a
    # small corpus is never split below one probe's candidate budget.
    for n in (2_000, 20_000, 2_000_000, 16_000_000):
        k_ = ann.scaled_ivf_centroids(n)
        p_ = ann.scaled_n_probe(k_, n)
        scanned = p_ * n / k_
        assert k_ == max(1, min(round(n ** 0.5), n // ann.IVF_SCAN_ROWS))
        assert n / k_ >= ann.IVF_SCAN_ROWS  # never tiny lists
        floor_ = max(ann.IVF_SCAN_ROWS, n / k_)
        assert 0.4 * floor_ <= scanned <= 1.6 * floor_
    # small-N clamp: exhaustive (exact) when the budget covers N
    assert ann.scaled_n_probe(16, 100) == 16
    # past max_per_level the √N default routes to the two-level layout
    assert ann.scaled_ivf_centroids(17_000_000) > 4096


def test_maintain_ivf_index(spark, tmp_path):
    """maintain_ivf_index (r12 verdict item 5): on the clustered
    fixture, a duplicate-region ingest balloons one frozen-centroid
    list past the 4x trigger; maintenance must actually split
    (splits non-empty), restore balance (max/median <= 4), keep
    recall@10 at the pre-drift >= 0.9 pin on the maintained index,
    and be idempotent (second run: no splits). The degenerate
    duplicate-mass list flips rebuild_recommended instead of
    spinning; an IVF-PQ layout refuses with the same flag."""
    import random

    rng = random.Random(7)
    dim, n_clusters, n_vecs = 16, 16, 640
    cents = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)]
        for _ in range(n_clusters)
    ]
    rows = [
        (vid, [x + rng.gauss(0.0, 0.05) for x in cents[vid % n_clusters]])
        for vid in range(n_vecs)
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    probes = emb.filter(F.col("vec_id") % 10 == 0)
    path = str(tmp_path / "ivf_maintain")
    ann.write_ivf_index(emb, path, n_centroids=n_clusters, iters=2)

    # drift: 4x the whole corpus size again, all of it near cluster 0
    drift_rows = [
        (10000 + i, [x + rng.gauss(0.0, 0.05) for x in cents[0]])
        for i in range(4 * n_vecs // n_clusters * n_clusters)
    ]
    drift = spark.createDataFrame(
        drift_rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    ann.append_to_ivf_index(drift, path)
    stats = {
        int(r["_cid"]): int(r["n_vectors"])
        for r in ann.ivf_index_stats(spark, path).collect()
    }
    med = sorted(stats.values())[len(stats) // 2]
    assert max(stats.values()) > 4 * med, (stats, med)  # drift is real

    rep = ann.maintain_ivf_index(spark, path)
    assert rep["splits"], rep
    assert rep["max_over_median"] <= 4.0, rep
    assert rep["n_lists"] == n_clusters + len(rep["splits"])
    # idempotent: a maintained index needs nothing
    rep2 = ann.maintain_ivf_index(spark, path)
    assert rep2["splits"] == [] and not rep2["rebuild_recommended"]

    # recall on the MAINTAINED index >= the pre-drift 0.9 pin, same
    # 12.5%-of-original scan posture (n_probe grows with the codebook
    # so the FRACTION, the thing that costs, stays comparable)
    union = emb.unionByName(drift)
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in ann.brute_force_topk(union, probes, k=10).collect()
    }
    n_probe = max(2, round(rep["n_lists"] / 8))
    got = {
        (r["probe_id"], r["neighbor_id"])
        for r in ann.ivf_topk_indexed(
            spark, path, probes, k=10, n_probe=n_probe
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"maintained-index recall {recall:.3f} < 0.9"

    # degenerate duplicate mass: enough IDENTICAL vectors that after
    # the legitimate splits peel off the noisy members, a pure-
    # identical list is still over-trigger — 2-means cannot separate
    # it, so maintenance must flag rebuild_recommended instead of
    # spinning (the no-infinite-loop contract)
    path2 = str(tmp_path / "ivf_dup")
    ann.write_ivf_index(emb, path2, n_centroids=4, iters=2)
    dup = spark.createDataFrame(
        [(20000 + i, list(cents[0])) for i in range(1600)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    ann.append_to_ivf_index(dup, path2)
    rep3 = ann.maintain_ivf_index(spark, path2)
    assert rep3["rebuild_recommended"], rep3


def test_rebuild_ivf_index(spark, tmp_path):
    """rebuild_ivf_index / rebuild_ivfpq_index (r13 verdict item 2 —
    the closed loop maintain_ivf_index's rebuild_recommended flag was
    missing): on the clustered fixture, a duplicate-mass drift flips
    the flag; the rebuild must (a) retrain a √N codebook from the
    live index rows, (b) preserve EVERY id (exhaustive probe equals
    brute force — the qix18 gate, asserted here as set equality),
    (c) keep flagging what rebuild CANNOT fix — identical vectors
    are indistinguishable to any quantizer, so the dup blob stays
    one irreducible hot list and maintenance honestly re-flags it
    (dedup is that blob's fix; the rebuild's job is the codebook
    resize and the lossless swap),
    (d) leave no staging/old directories behind (atomic-swap
    hygiene), and (e) keep recall at the comparable scan fraction.
    The PQ twin rebuilds from the passed corpus and keeps its
    recorded geometry; rebuilding a PQ path WITHOUT the corpus
    refuses; a plain rebuild of a formerly-hierarchical layout prunes
    the stale `_coarse` sidecar."""
    import glob as _glob
    import random

    import pytest as _pytest

    rng = random.Random(11)
    dim, n_clusters, n_vecs = 16, 16, 6400
    cents = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)]
        for _ in range(n_clusters)
    ]
    rows = [
        (vid, [x + rng.gauss(0.0, 0.05) for x in cents[vid % n_clusters]])
        for vid in range(n_vecs)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    path = str(tmp_path / "ivf_rb")
    ann.write_ivf_index(emb, path, n_centroids=4, iters=2)
    # corpus + blob are sized so the REBUILT corpus earns a 16-list
    # codebook under the r15 small-corpus clamp (16640 vectors -> 16
    # full lists, one per fixture cluster — kmeans' first-n init seeds
    # one centroid per cluster, so the partial-scan recall assert (e)
    # is deterministic). With only a handful of lists a single hot
    # list cannot push max/median past the rebuild trigger, which is
    # correct behavior (a near-exhaustive index has nothing to
    # rebalance), so the irreducible-blob invariant (c) is asserted
    # at the scale where it is meaningful.
    dup = spark.createDataFrame(
        [(20000 + i, list(cents[0])) for i in range(10240)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    ann.append_to_ivf_index(dup, path)
    rep = ann.maintain_ivf_index(spark, path)
    assert rep["rebuild_recommended"], rep

    union = emb.unionByName(dup)
    n_union = n_vecs + 10240
    out = ann.rebuild_ivf_index(spark, path)
    assert out["n_vectors"] == n_union
    assert out["n_lists"] == ann.scaled_ivf_centroids(n_union)  # √N
    # (d) staging/old dirs are gone; only the live layout remains
    leftovers = [
        p for p in _glob.glob(path + "*")
        if ".rebuild-" in p or ".old-" in p
    ]
    assert leftovers == [], leftovers
    # (b) nothing lost or duplicated: exhaustive probe == brute force
    # — probed BEFORE the (c) maintenance pass below, which may split
    # the rebuilt index's mixed blob list and change the list count
    # (r15: with the one-list-per-cluster codebook the split moved
    # cluster-0 rows out of the probes' 2 nearest lists, so probing
    # after maintenance asserted (e) against the wrong index)
    probes = emb.filter(F.col("vec_id") % 40 == 0)
    exact = {
        (r["probe_id"], r["rn"], r["neighbor_id"])
        for r in ann.brute_force_topk(union, probes, k=5).collect()
    }
    got = {
        (r["probe_id"], r["rn"], r["neighbor_id"])
        for r in ann.ivf_topk_indexed(
            spark, path, probes, k=5, n_probe=out["n_lists"]
        ).collect()
    }
    assert got == exact
    # (e) recall at ~12.5% scan fraction on the clustered corpus
    got_part = {
        (r["probe_id"], r["neighbor_id"])
        for r in ann.ivf_topk_indexed(
            spark, path, probes, k=5,
            n_probe=max(2, round(out["n_lists"] / 8)),
        ).collect()
    }
    exact_pairs = {(p, n) for p, _rn, n in exact}
    recall = len(exact_pairs & got_part) / len(exact_pairs)
    assert recall >= 0.9, f"post-rebuild recall {recall:.3f} < 0.9"
    # (c) identical vectors are irreducible: they land in ONE list no
    # matter the codebook, so maintenance on the rebuilt index still
    # (correctly) flags the blob — the honest signal that dedup, not
    # another rebuild, is that mass's fix
    rep2 = ann.maintain_ivf_index(spark, path)
    assert rep2["rebuild_recommended"], rep2

    # PQ twin: geometry inherited from the live sidecar, corpus
    # required, same swap hygiene
    pqp = str(tmp_path / "ivfpq_rb")
    ann.write_ivfpq_index(emb, pqp, n_centroids=4, m_subs=4, n_codes=8,
                          iters=2)
    with _pytest.raises(ValueError, match="rebuild_ivfpq_index"):
        ann.rebuild_ivf_index(spark, pqp)
    outpq = ann.rebuild_ivfpq_index(spark, pqp, union)
    assert outpq["n_vectors"] == n_union
    assert outpq["n_lists"] == ann.scaled_ivf_centroids(n_union)
    pq_rows = spark.read.parquet(pqp + "_pq").collect()
    assert {int(r["sub"]) for r in pq_rows} == set(range(4))
    assert max(int(r["code"]) for r in pq_rows) <= 8
    # the rebuilt PQ index still serves: ADC probe + exact re-rank
    # returns k rows per probe
    res = ann.ivfpq_topk_indexed(
        spark, pqp, union, probes.limit(2), k=3,
        n_probe=outpq["n_lists"])
    assert res.count() == 6


def test_neardup_recovers_planted_organic_clusters(spark, tmp_path):
    """End-to-end validation replication could never give (r10, with
    the organic fixture): near_dup_clusters must RECOVER known planted
    near-dup structure. scripts/gen_organic.py plants, per decade of
    doc_ids, residues {8, 9} as ~5%-word-perturbed re-emissions of the
    decade base — so the ground-truth pair set is exactly the within-
    decade {base, 8, 9} pairs (organic Jaccard ~0.7-0.9, occasionally
    1.0 when zero resamples fire, as in real crawls). Everything is
    hash-seeded, so the measured operating points are deterministic:

    - qd5's production params (num_perm=4, bands=2): measured
      precision 0.987 / recall 0.763 at sf0.02 — high precision, the
      2-row signature misses the most-perturbed dups;
    - a deeper signature (num_perm=8, bands=4): 0.965 / 0.910 — the
      banding lever buys recall at slight precision cost.

    Floors sit under the measured values with margin; a clustering
    change that snowballs unrelated docs (precision) or stops catching
    perturbed dups (recall) fails here even though no oracle can
    express CC-transitive clustering in one SQL statement. The
    biggest-cluster cap guards against degenerate chaining."""
    import itertools
    import subprocess
    import sys

    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "organic_sf002")
    subprocess.run(
        [sys.executable, "scripts/gen_organic.py",
         "--sf", "0.02", "--out", out],
        check=True, capture_output=True, cwd=repo,
    )
    docs = spark.read.parquet(out + "/documents.parquet")
    n_docs = docs.count()
    planted = set()
    for base in range(0, n_docs, 10):
        members = [m for m in (base, base + 8, base + 9) if m < n_docs]
        planted |= set(itertools.combinations(members, 2))

    floors = {(4, 2): (0.95, 0.70), (8, 4): (0.95, 0.85)}
    for (num_perm, bands), (prec_floor, rec_floor) in floors.items():
        rows = dedup.near_dup_clusters(
            docs, num_perm=num_perm, bands=bands
        ).collect()
        clusters: dict = {}
        for r in rows:
            clusters.setdefault(r["cluster_id"], []).append(r["doc_id"])
        predicted = set()
        for members in clusters.values():
            predicted |= set(itertools.combinations(sorted(members), 2))
        tp = len(planted & predicted)
        prec = tp / len(predicted) if predicted else 1.0
        rec = tp / len(planted)
        assert prec >= prec_floor, (num_perm, bands, prec)
        assert rec >= rec_floor, (num_perm, bands, rec)
        assert max(len(m) for m in clusters.values()) <= 8, (
            "cluster snowballing: unrelated docs chained together"
        )


def test_chargram_language_id_learns_when_signal_exists(spark, tmp_path):
    """Closes the loop on qta22's honesty note: on the driver fixture
    lang is independent of text, so the classifier sits at the
    majority floor — a FIXTURE property. This proves the operator
    itself LEARNS: gen_organic --lang-signal draws 30% of words from
    a lang-specific vocabulary slice (near-dups inherit their decade
    base's lang).

    Split hygiene (review finding): with train_lt=8 the held-out set
    is EXACTLY the planted residue-8/9 near-duplicates of training
    docs — memorizing train trigram profiles would pass. So train on
    residues 0-6 and score residue-7 docs, which share no planted
    structure with any training doc: measured 0.980 over 100
    genuinely independent held-outs (majority floor 0.47; the
    near-dup residues read 0.995 — reported separately, never
    pinned as generalization). Deterministic; floor 0.90."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "org_lang")
    subprocess.run(
        [sys.executable, "scripts/gen_organic.py",
         "--sf", "0.02", "--out", out, "--lang-signal"],
        check=True, capture_output=True, cwd=repo,
    )
    docs = spark.read.parquet(out + "/documents.parquet")
    pred = textstats.chargram_language_id(
        docs, n=3, mod=10, train_lt=7
    ).collect()
    indep = [r for r in pred if r["doc_id"] % 10 == 7]
    acc = sum(
        1 for r in indep if r["actual_lang"] == r["pred_lang"]
    ) / len(indep)
    assert acc >= 0.90, (
        f"classifier failed to generalize: independent-holdout "
        f"acc={acc:.3f} over {len(indep)}"
    )


def _clustered_emb(spark, dim=16, n_clusters=16, n_vecs=640, sigma=0.05,
                   seed=7):
    import random

    rng = random.Random(seed)
    cents = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = [
        (vid,
         [x + rng.gauss(0.0, sigma) for x in cents[vid % n_clusters]])
        for vid in range(n_vecs)
    ]
    return spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )


def test_hierarchical_ivf_recall_and_pruning(spark, tmp_path):
    """The two-level IVF path (r10 verdict item 5), exercised with a
    small per-level cap so the hierarchy engages on a fast fixture:
    16 lists under max_per_level=8 forces 4 coarse branches x 4
    leaves. Must (a) write the two-level layout (_coarse sibling +
    branch column), (b) reach recall@10 >= 0.9 on the clustered
    corpus at a 2/16 scan fraction (the same bar as the flat
    clustered test), and (c) still prune non-candidate inverted lists
    at the FILE level — the reason the index exists, layout-agnostic."""
    import contextlib
    import io
    import os

    emb = _clustered_emb(spark)
    probes = emb.filter(F.col("vec_id") % 10 == 0)
    path = str(tmp_path / "hier_ivf")
    cb = ann.write_ivf_index(emb, path, n_centroids=16, iters=2,
                             max_per_level=8)
    assert len(cb) == 16
    assert os.path.isdir(path + "_coarse"), "two-level layout expected"
    got_df = ann.ivf_topk_indexed(
        spark, path, probes, k=10, n_probe=2, n_probe_coarse=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got_df.explain("formatted")
    plan = buf.getvalue()
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("_cid" in l and " IN " in l for l in part_lines), (
        "candidate cids must prune partitions:\n" + plan)
    exact = {
        (r["probe_id"], r["neighbor_id"])
        for r in ann.brute_force_topk(emb, probes, k=10).collect()
    }
    got = {(r["probe_id"], r["neighbor_id"]) for r in got_df.collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"hierarchical IVF recall {recall:.3f} < 0.9"


def test_ivf_large_codebook_gate_opens(spark, tmp_path):
    """n_centroids > 4096 used to be a hard refusal; the hierarchical
    path must now build and probe a 4096+-list index end-to-end at the
    default cap (65 coarse branches x ~64 leaves for 4100). Machinery
    gates only — codebook within quota (branches shorter than their
    leaf quota yield fewer lists, documented), every probe returns its
    full k, all probed cids real; recall quality is pinned on the
    clustered fixtures above (it is a data/param property, not a
    gate)."""
    emb = _clustered_emb(spark, dim=8, n_clusters=4100, n_vecs=12300,
                         seed=11)
    probes = emb.filter(F.col("vec_id") % 500 == 0)
    path = str(tmp_path / "big_ivf")
    cb = ann.write_ivf_index(emb, path, n_centroids=4100, iters=1)
    assert 4000 <= len(cb) <= 4100, len(cb)
    rows = ann.ivf_topk_indexed(
        spark, path, probes, k=5, n_probe=8, n_probe_coarse=3).collect()
    n_probes = probes.count()
    assert len(rows) == n_probes * 5
    assert {r["rn"] for r in rows} == {1, 2, 3, 4, 5}


def test_kmeans_hierarchical_rejects_past_two_level_bound(spark):
    import pytest as _pytest

    emb = _clustered_emb(spark, n_vecs=32)
    with _pytest.raises(ValueError, match="two-level bound"):
        ann.kmeans_centroids_hierarchical(emb, 82, max_per_level=9)


def test_ivfpq_recall_and_code_layout(spark, tmp_path):
    """IVF-PQ (write_ivfpq_index / ivfpq_topk_indexed): (a) the
    inverted lists store CODES, not vectors — m_subs ints + a norm per
    row (the 128x byte shrink that makes a 10⁹-vector list scan
    readable); (b) ADC pruning at the default refine keeps recall@10
    >= 0.9 on the clustered corpus at a 2/16 scan fraction (same bar
    as the flat and hierarchical IVF tests); (c) with every list
    probed and refine unbounded the output is EXACTLY brute force —
    the ADC stage only prunes, the emitted sims come from the exact
    re-rank (certified-filter/pruner split)."""
    emb = _clustered_emb(spark)
    probes = emb.filter(F.col("vec_id") % 10 == 0)
    path = str(tmp_path / "pq")
    ann.write_ivfpq_index(emb, path, n_centroids=16, m_subs=4,
                          n_codes=16, iters=2)
    stored = spark.read.parquet(path)
    assert set(stored.columns) == {"vec_id", "_codes", "_nrm", "_cid"}
    row = stored.first()
    assert len(row["_codes"]) == 4  # m_subs byte-sized codes

    exact_df = ann.brute_force_topk(emb, probes, k=10)
    exact = {(r["probe_id"], r["neighbor_id"]) for r in exact_df.collect()}
    got = {
        (r["probe_id"], r["neighbor_id"])
        for r in ann.ivfpq_topk_indexed(
            spark, path, emb, probes, k=10, n_probe=2, refine=4
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"IVF-PQ recall {recall:.3f} < 0.9"

    full = sorted(map(tuple, ann.ivfpq_topk_indexed(
        spark, path, emb, probes, k=10, n_probe=16, refine=10**6
    ).collect()))
    want = sorted(map(tuple, exact_df.collect()))
    assert full == want


def test_ivfpq_rejects_bad_geometry(spark):
    import pytest as _pytest

    emb = _clustered_emb(spark, dim=16, n_vecs=64)
    with _pytest.raises(ValueError, match="n_codes"):
        ann.write_ivfpq_index(emb, "/tmp/never", n_codes=300)
    with _pytest.raises(ValueError, match="divisible"):
        ann.write_ivfpq_index(emb, "/tmp/never", m_subs=5)


def test_ivfpq_hierarchical_composition(spark, tmp_path):
    """PQ codes compose with the two-level coarse quantizer (the
    10⁹-vector shape: hierarchical pruning bounds WHICH lists are
    read, PQ bounds the BYTES per list). Forced small cap
    (16 lists / max_per_level=8 -> 4x4 two-level): layout carries all
    three sidecars, pruned-recall holds the 0.9 bar, and the
    exhaustive configuration (all branches, all leaves, unbounded
    refine) equals brute force exactly."""
    import os

    emb = _clustered_emb(spark)
    probes = emb.filter(F.col("vec_id") % 10 == 0)
    path = str(tmp_path / "hpq")
    ann.write_ivfpq_index(emb, path, n_centroids=16, m_subs=4,
                          n_codes=16, iters=2, max_per_level=8)
    assert os.path.isdir(path + "_coarse")
    assert os.path.isdir(path + "_pq")
    stored = spark.read.parquet(path)
    assert set(stored.columns) == {"vec_id", "_codes", "_nrm", "_cid"}

    exact_df = ann.brute_force_topk(emb, probes, k=10)
    exact = {(r["probe_id"], r["neighbor_id"]) for r in exact_df.collect()}
    got = {
        (r["probe_id"], r["neighbor_id"])
        for r in ann.ivfpq_topk_indexed(
            spark, path, emb, probes, k=10, n_probe=2, refine=4,
            n_probe_coarse=2,
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"hierarchical IVF-PQ recall {recall:.3f} < 0.9"

    full = sorted(map(tuple, ann.ivfpq_topk_indexed(
        spark, path, emb, probes, k=10, n_probe=16, refine=10**6,
        n_probe_coarse=4,
    ).collect()))
    assert full == sorted(map(tuple, exact_df.collect()))


def test_ivf_incremental_append(spark, tmp_path):
    """append_to_ivf_index (r11 ingest path) on BOTH layouts: the
    appended vectors must land inside the existing _cid= partition
    directories (no rebuild — the pre-append part-files survive
    byte-identical), be assigned with the stored frozen codebook, and
    make the exhaustive post-append probe equal brute force over the
    FULL corpus; ivf_index_stats totals must account for every vector."""
    import glob
    import os

    emb = _clustered_emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    extra = emb.filter(F.col("vec_id") % 5 == 0)
    probes = emb.filter(F.col("vec_id") % 10 == 0)

    for name, kw in (
        ("flat", {"n_centroids": 8}),
        ("hier", {"n_centroids": 16, "max_per_level": 8}),
    ):
        path = str(tmp_path / name)
        ann.write_ivf_index(base, path, iters=2, **kw)
        before_files = set(glob.glob(os.path.join(path, "_cid=*", "*.parquet")))
        before_dirs = {os.path.dirname(f) for f in before_files}
        n = ann.append_to_ivf_index(extra, path)
        assert n == extra.count()
        # no rebuild: every pre-append part-file still present, and at
        # least one appended file landed in an EXISTING partition dir
        after_files = set(glob.glob(os.path.join(path, "_cid=*", "*.parquet")))
        assert before_files <= after_files
        assert any(
            os.path.dirname(f) in before_dirs
            for f in after_files - before_files
        ), "append should reuse existing _cid partitions"
        stats = ann.ivf_index_stats(spark, path).collect()
        assert sum(r["n_vectors"] for r in stats) == emb.count()
        nc = kw["n_centroids"]
        got_df = ann.ivf_topk_indexed(
            spark, path, probes, k=10, n_probe=nc,
            **({"n_probe_coarse": 4} if name == "hier" else {}))
        exact = {
            (r["probe_id"], r["neighbor_id"], r["sim"])
            for r in ann.brute_force_topk(emb, probes, k=10).collect()
        }
        got = {
            (r["probe_id"], r["neighbor_id"], r["sim"])
            for r in got_df.collect()
        }
        assert got == exact, f"{name}: exhaustive post-append != brute force"


def test_crossdoc_span_scrub_semantics(spark):
    """Planted-fixture pins for crossdoc_span_scrub: the globally-first
    occurrence (min (doc, pos)) of a cross-doc duplicated span
    survives, later occurrences are covered token-by-token, intra-doc
    repetition WITHOUT a cross-doc twin is untouched (qta11's job),
    and a fully-duplicated doc surfaces with empty clean_text."""
    span = "a b c d e f g h"                       # 8 tokens
    rows = [
        (1, f"intro {span} outro"),                # first occurrence: kept
        (2, f"pre {span} post"),                   # later: span scrubbed
        (3, span),                                 # fully duplicated
        (4, "x y x y x y x y x y"),                # intra-doc only: kept
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
        for r in textstats.crossdoc_span_scrub(df, n=8).collect()
    }
    assert got[1] == (f"intro {span} outro", 10, 0)
    assert got[2] == ("pre post", 2, 8)
    assert got[3] == ("", 0, 8)
    assert got[4] == ("x y x y x y x y x y", 10, 0)


def test_ivf_probe_and_append_use_stored_cids(spark, tmp_path):
    """List ids are whatever `<path>_centroids` stores, not positions.
    An index whose list 4 is renumbered to 7 (its `_cid=` directory
    and its codebook row) must probe exactly like its unrenumbered
    twin at every n_probe, partial and exhaustive, and an append must
    land in `_cid=7`, never in a position-derived `_cid=4`."""
    import os
    import shutil

    emb = _clustered_emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    extra = emb.filter(F.col("vec_id") % 5 == 0)
    probes = emb.filter(F.col("vec_id") % 10 == 0)
    plain, renum = str(tmp_path / "plain"), str(tmp_path / "renum")
    ann.write_ivf_index(base, plain, n_centroids=4, iters=2)
    for sfx in ("", "_centroids"):
        shutil.copytree(plain + sfx, renum + sfx)
    os.rename(os.path.join(renum, "_cid=4"), os.path.join(renum, "_cid=7"))
    cb = [
        (7 if r["cid"] == 4 else r["cid"], list(r["centroid"]))
        for r in spark.read.parquet(renum + "_centroids").collect()
    ]
    spark.createDataFrame(cb, "cid BIGINT, centroid ARRAY<DOUBLE>").coalesce(
        1).write.mode("overwrite").parquet(renum + "_centroids")

    def probe(path, n_probe):
        return sorted(map(tuple, ann.ivf_topk_indexed(
            spark, path, probes, k=5, n_probe=n_probe).collect()))

    for n_probe in (1, 2, 3, 4):
        assert probe(renum, n_probe) == probe(plain, n_probe), n_probe

    for path in (plain, renum):
        assert ann.append_to_ivf_index(extra, path) == extra.count()
    assert not os.path.exists(os.path.join(renum, "_cid=4"))
    assert probe(renum, 2) == probe(plain, 2)


def test_ivfpq_incremental_append(spark, tmp_path):
    """append_to_ivf_index auto-detects the PQ layout (the _pq
    sidecar): appended vectors are product-quantized with the STORED
    per-subspace codebooks and land as (id, _codes, _nrm, _cid) rows
    inside existing partitions; the exhaustive post-append probe must
    equal brute force over the full corpus (codes only PRUNE — sims
    come from the exact re-rank)."""
    import glob
    import os

    emb = _clustered_emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    extra = emb.filter(F.col("vec_id") % 5 == 0)
    probes = emb.filter(F.col("vec_id") % 10 == 0)
    path = str(tmp_path / "pq")
    ann.write_ivfpq_index(base, path, n_centroids=8, m_subs=4,
                          n_codes=16, iters=2)
    before = set(glob.glob(os.path.join(path, "_cid=*", "*.parquet")))
    n = ann.append_to_ivf_index(extra, path)
    assert n == extra.count()
    after = set(glob.glob(os.path.join(path, "_cid=*", "*.parquet")))
    assert before < after
    # appended rows are CODES, not vectors (schema parity with build)
    assert set(spark.read.parquet(path).columns) == {
        "vec_id", "_codes", "_nrm", "_cid"}
    got_df = ann.ivfpq_topk_indexed(
        spark, path, emb, probes, k=10, n_probe=8, refine=10**6)
    exact = {
        (r["probe_id"], r["neighbor_id"], r["sim"])
        for r in ann.brute_force_topk(emb, probes, k=10).collect()
    }
    got = {(r["probe_id"], r["neighbor_id"], r["sim"])
           for r in got_df.collect()}
    assert got == exact


def test_split_ivf_list(spark, tmp_path):
    """r12 incremental rebalance: splitting a hot inverted list
    preserves the vector set, shrinks both resulting lists below the
    split list's size, keeps the codebook contiguous, stays exact
    under exhaustive probing (flat AND two-level layouts), and
    refuses on PQ layouts."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from sora_spark.llm import ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    probe = emb.filter("vec_id % 97 = 0")
    bf = sorted(map(tuple, ann.brute_force_topk(emb, probe, k=5).collect()))

    idx = str(tmp_path / "flat")
    ann.write_ivf_index(emb, idx, n_centroids=4, iters=2)
    stats = {int(r["_cid"]): int(r["n_vectors"])
             for r in ann.ivf_index_stats(spark, idx).collect()}
    hot = max(stats, key=stats.get)
    old_cid, new_cid = ann.split_ivf_list(spark, idx, hot)
    stats2 = {int(r["_cid"]): int(r["n_vectors"])
              for r in ann.ivf_index_stats(spark, idx).collect()}
    assert sum(stats2.values()) == sum(stats.values())
    assert stats2[old_cid] + stats2[new_cid] == stats[hot]
    assert stats2[old_cid] < stats[hot] and stats2[new_cid] < stats[hot]
    # codebook stays contiguous 1..n+1 (the flat probe's mapping)
    cids = sorted(
        int(r["cid"])
        for r in spark.read.parquet(idx + "_centroids").collect())
    assert cids == list(range(1, len(stats) + 2))
    post = sorted(map(tuple, ann.ivf_topk_indexed(
        spark, idx, probe, k=5, n_probe=len(cids)).collect()))
    assert post == bf

    # two-level layout: the new leaf inherits the split leaf's branch
    idx2 = str(tmp_path / "hier")
    ann.write_ivf_index(emb, idx2, n_centroids=6, iters=1, max_per_level=3)
    s3 = {int(r["_cid"]): int(r["n_vectors"])
          for r in ann.ivf_index_stats(spark, idx2).collect()}
    ann.split_ivf_list(spark, idx2, max(s3, key=s3.get))
    post2 = sorted(map(tuple, ann.ivf_topk_indexed(
        spark, idx2, probe, k=5, n_probe=7, n_probe_coarse=3).collect()))
    assert post2 == bf

    # PQ layouts refuse: codes cannot be re-clustered
    idx3 = str(tmp_path / "pq")
    ann.write_ivfpq_index(emb, idx3, n_centroids=4, iters=1)
    with _pytest.raises(ValueError, match="IVF-PQ"):
        ann.split_ivf_list(spark, idx3, 1)
