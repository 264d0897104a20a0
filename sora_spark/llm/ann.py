"""Similarity search over embedding columns (SURVEY §2.11 Q-L3/Q-L4).

Exact search, the reference every approximate path is tested against:
- `brute_force_topk` (probes broadcast) and `brute_force_topk_shuffle`
  (blocked two-sided join) score every (probe, vector) pair.
- `range_search_shuffle` / `range_search_vectorized` return every
  neighbour at or above a similarity threshold.

Approximate search:
- `lsh_topk` / `near_duplicate_pairs_lsh`: random-hyperplane LSH. A
  probe scans its own sign-pattern bucket plus the hamming-1 buckets.
  Hyperplanes come from a fixed seed, so plans are deterministic.
- `ivf_topk`: in-memory IVF (k-means lists, nearest-`n_probe` scan).
- The on-disk IVF index family. `write_ivf_index` / `write_ivfpq_index`
  build it; `ivf_topk_indexed` / `ivfpq_topk_indexed` probe it;
  `append_to_ivf_index`, `delete_from_ivf_index`, `split_ivf_list`,
  `maintain_ivf_index`, `rebuild_ivf_index` and `rebuild_ivfpq_index`
  maintain it.

On-disk contract of an index at `<path>`:
- `<path>`: the inverted lists, Hive-partitioned by `_cid`. Every
  writer stores each vector's norm as `_nrm`, so a probe pays one dot
  per candidate pair. Plain IVF rows keep every corpus column; IVF-PQ
  rows are (id, `_codes`, `_nrm`, `_cid`).
- `<path>_centroids`: the codebook (cid, centroid, branch). `branch`
  is NULL under the flat layout (files written without the column
  read it NULL too). List ids are whatever this table stores. They
  need not be contiguous, and no reader derives a cid from a
  centroid's position.
- `<path>_coarse` (two-level layout only): the branch centroids
  (branch, centroid). Probes pick branches first, then leaves in them.
- `<path>_pq` (IVF-PQ only): the per-subspace code books (sub, code,
  centroid).
Each sidecar's schema is one DDL string in `_SIDECARS`, used by its
writer and by every read (`_sidecar`), so no read infers a schema
from a footer. The codebook readers collect a sidecar's few rows and
order them on the driver. The layout is read from the filesystem:
`_coarse` present means two-level, `_pq` present means IVF-PQ.

Every top-k path returns (probe_id, rn, neighbor_id, sim), ranked on
the rounded cosine with neighbour-id tie-break, so results are
engine-independent. Design history: OPTIMIZATION_r15.md.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sora_spark.functions import vector
from sora_spark.operators._util import floor_partitions

# range_search_vectorized ships the probe matrix in the mapInPandas
# closure; 2M float32-ish probes at dim<=128 is ~2 GB — beyond that the
# two-sided range_search_shuffle is the right tool, so raise early.
_RANGE_SEARCH_MAX_PROBES = 2_000_000
# the declared schema of each index sidecar, by suffix (module docstring)
_SIDECARS = {
    "_centroids": "cid BIGINT, centroid ARRAY<DOUBLE>, branch BIGINT",
    "_coarse": "branch BIGINT, centroid ARRAY<DOUBLE>",
    "_pq": "sub INT, code INT, centroid ARRAY<DOUBLE>",
}


def _probe_frame(probes: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Probes as (probe_id, probe_vec, _pnrm). The norm is taken once
    per probe, before any per-list, per-bucket or per-block explode."""
    return probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
    ).withColumn("_pnrm", vector.norm(F.col("probe_vec")))


def _cos(vec_col: str, decimals: int = 5):
    """Rounded cosine of `vec_col` against `probe_vec` from the hoisted
    norms `_nrm` and `_pnrm`. `vector.cosine` is dot / (norm * norm),
    so this is bit-identical to it, but each pair pays one interpreted
    array aggregate (the dot) instead of three. An unrolled scalar dot
    was measured slower (OPTIMIZATION_r15.md, item 1)."""
    return F.round(
        vector.dot(F.col(vec_col), F.col("probe_vec"))
        / (F.col("_nrm") * F.col("_pnrm")),
        decimals,
    )


def _topk(pairs: DataFrame, k: int, id_col: str, sim, by=("probe_id",)):
    """The ranker: the top `k` rows of `pairs` per `by` group, by `sim`
    descending then neighbour id → (probe_id, rn, neighbor_id, sim).
    A wider `by` gives the per-block partial top-k."""
    w = Window.partitionBy(*by).orderBy(F.desc("sim"), "neighbor_id")
    return (
        pairs.select(*by, F.col(id_col).alias("neighbor_id"), sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("probe_id", "rn", "neighbor_id", "sim")
    )


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per probe (self excluded) →
    (probe_id, rn, neighbor_id, sim). Ranks on the ROUNDED similarity
    with neighbor-id tie-break so results are engine-independent. The
    corpus norm is a pipelined projection; the probe norm is
    materialized by the broadcast."""
    c = corpus.withColumn("_nrm", vector.norm(F.col(vec_col)))
    j = c.join(
        F.broadcast(_probe_frame(probes, id_col, vec_col)),
        F.col(id_col) != F.col("probe_id"),
    )
    return _topk(j, k, id_col, _cos(vec_col, sim_decimals))


def brute_force_topk_shuffle(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 3,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors WITHOUT broadcasting the probes —
    the shape for probe sets beyond broadcast size (batch kNN-join of
    one corpus against another).

    The corpus is hash-partitioned into `n_blocks` disjoint blocks and
    the probes replicated once per block (explode), so the join is an
    ordinary two-sided equi-key shuffle on `_blk`: every corpus row
    meets every probe exactly once → results are identical to
    brute_force_topk (same rounding, same tiebreak, same oracle).
    A per-(probe, block) partial top-k runs before the global per-probe
    merge, so the rank shuffle carries at most k·n_blocks rows per
    probe instead of the full |corpus| candidate stream. Choose
    n_blocks so one corpus block fits an executor's memory; probe
    replication cost is n_blocks·|probes| keys, independent of corpus
    size."""
    c = corpus.withColumn(
        "_blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
    ).withColumn("_nrm", vector.norm(F.col(vec_col)))
    p = _probe_frame(probes, id_col, vec_col).withColumn(
        "_blk", F.explode(_id_array(range(n_blocks)))
    )
    j = c.join(p, "_blk").filter(F.col(id_col) != F.col("probe_id"))
    partial = _topk(
        j, k, id_col, _cos(vec_col, sim_decimals), by=("probe_id", "_blk")
    )
    return _topk(partial, k, "neighbor_id", F.col("sim"))


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def bucket_key(vec_col, planes: list[list[float]]):
    """Sign-pattern LSH bucket id as a bit string column."""
    bits = [
        F.when(
            vector.dot(vec_col, F.array(*[F.lit(x) for x in plane])) >= 0, "1"
        ).otherwise("0")
        for plane in planes
    ]
    return F.concat(*bits)


def lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 3,
    dim: int = 64,
    n_planes: int = 6,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_probes: bool = True,
) -> DataFrame:
    """Approximate top-k with multi-probe: each probe scans its own
    bucket plus every hamming-1 bucket (flip one sign bit), i.e.
    (n_planes+1)/2^n_planes of the corpus instead of all of it. Recall
    is tested against brute_force_topk (tolerance tier, SURVEY §5.3).

    `broadcast_probes=True` (default) fits the query-serving shape —
    a small probe set against a huge corpus. For probe sets beyond
    broadcast size (batch kNN-join of one corpus against another),
    pass False: the join shuffles BOTH sides on `_bucket`, which is an
    ordinary equi-key shuffle bounded by bucket width."""
    planes = _hyperplanes(dim, n_planes, seed)
    c = corpus.withColumn(
        "_bucket", bucket_key(F.col(vec_col), planes)
    ).withColumn("_nrm", vector.norm(F.col(vec_col)))
    key = bucket_key(F.col("probe_vec"), planes)
    # candidate buckets: exact key + each single-bit flip
    flips = [
        F.concat(
            F.substring(key, 1, i),
            F.when(F.substring(key, i + 1, 1) == "1", "0").otherwise("1"),
            F.substring(key, i + 2, n_planes - i - 1),
        )
        for i in range(n_planes)
    ]
    p = _probe_frame(probes, id_col, vec_col).withColumn(
        "_bucket", F.explode(F.array(key, *flips))
    )
    j = c.join(F.broadcast(p) if broadcast_probes else p, "_bucket").filter(
        F.col(id_col) != F.col("probe_id")
    )
    return _topk(j, k, id_col, _cos(vec_col))


def _dist2_col(vec_col, cent_col):
    """The squared-distance kernel: Σ (v_i - c_i)² between two array
    columns, as a left fold in element order (fp64)."""
    diff = F.zip_with(
        vector.to_double(vec_col), cent_col, lambda a, b: (a - b) * (a - b)
    )
    return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)


def _lit_matrix(cents: list[list[float]]):
    """A centroid matrix as ONE array<array<double>> literal built via
    a single SQL expression: the per-element `F.lit` route costs one
    py4j round-trip per scalar (minutes of plan construction at a
    4096 x 64 codebook); one `F.expr` parse of the equivalent SQL
    string is milliseconds. CAST('…' AS DOUBLE) keeps repr()'s full
    precision incl. scientific notation."""
    rows = ",".join(
        "array(" + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in c)
        + ")"
        for c in cents
    )
    return F.expr(f"array({rows})")


def _id_array(ids):
    """Integer ids as ONE array<bigint> literal (same single-parse
    idiom as `_lit_matrix`)."""
    return F.expr("array(" + ",".join(f"{int(i)}L" for i in ids) + ")")


def centroid_distances(vec_col, cents: list[list[float]]):
    """Array of squared distances from `vec_col` to each literal
    centroid — the public argmin building block shared by assignment
    (`assign_cids`) and the declared clustering query (qkm1). One
    transform over the single-literal matrix."""
    return F.transform(_lit_matrix(cents), lambda c: _dist2_col(vec_col, c))


def _nearest_centroid(vec_col, cents: list[list[float]], ids=None):
    """Argmin over `centroid_distances`: the 1-based position of the
    nearest centroid (ties to the first), or, given `ids` in codebook
    order, the id stored at that position."""
    d = centroid_distances(vec_col, cents)
    pos = F.array_position(d, F.array_min(d))
    if ids is None:
        return pos
    return F.element_at(_id_array(ids), pos.cast("int"))


def _nearest_ids(vec_col, cents: list[list[float]], ids, n: int):
    """The list probe: ids of the `n` centroids nearest `vec_col`,
    nearest first, as an array<bigint>. `ids` are the stored ids in
    codebook order (ascending); (dist, position) structs sort
    naturally, so ties go to the lower id. When `n` covers the
    codebook every id is returned and no distance is computed (the
    exhaustive probe)."""
    ids = list(ids)
    if n >= len(ids):
        return _id_array(ids)
    by_pos = _id_array(ids)
    d = F.transform(
        _lit_matrix(cents),
        lambda c, i: F.struct(_dist2_col(vec_col, c).alias("d"), i.alias("i")),
    )
    return F.transform(
        F.slice(F.array_sort(d), 1, n),
        lambda s: F.element_at(by_pos, s["i"] + 1),
    )


# scanned-candidate budget behind the auto n_probe rule: with a
# √N-sized codebook, ~scan_rows candidates per probe means per-probe
# work stays FLAT as the corpus grows (total probe work linear in N,
# not quadratic); a fixed-size codebook's per-probe scan grows
# linearly with the corpus instead
IVF_SCAN_ROWS = 1024


def scaled_ivf_centroids(n_vectors: int) -> int:
    """The standard IVF sizing rule, clamped for small corpora:
    n_centroids ≈ √N (FAISS guidance; balances the two probe-side
    costs, the n_centroids-sized argmin and the N/n_centroids-sized
    list scans), capped so every list holds ≥ IVF_SCAN_ROWS rows
    (n_lists ≤ N // IVF_SCAN_ROWS). Below N = IVF_SCAN_ROWS² the √N
    codebook would split the corpus into lists SMALLER than one
    probe's candidate budget — pure per-file/per-task overhead with
    zero scan saved (OPTIMIZATION_r15.md, item 1). Tiny corpora
    therefore get few, full lists — down to one exhaustive (exact)
    list — and the √N asymptote takes over once a list can afford it
    (N ≥ ~1M at the 1024-row budget)."""
    import math

    n = max(n_vectors, 1)
    return max(1, min(round(math.sqrt(n)), n // IVF_SCAN_ROWS))


def scaled_n_probe(
    n_lists: int, n_vectors: int, scan_rows: int = IVF_SCAN_ROWS
) -> int:
    """n_probe from a scanned-candidate budget: probe enough lists to
    expect ~`scan_rows` candidates (rows/list × n_probe ≈ scan_rows),
    clamped to [1, n_lists]. With √N lists this holds per-probe cost
    flat across corpus growth; small corpora (N ≤ scan_rows·n_lists)
    clamp to the exhaustive (exact) scan. Recall at a shrinking scan
    FRACTION relies on the corpus having cluster structure — true of
    real embedding corpora (pinned in tests/test_llm.py::
    test_ivf_clustered_recall), not of the isotropic bench fixture,
    whose recall note bench.py keeps honest."""
    rows_per_list = max(n_vectors, 1) / max(n_lists, 1)
    return min(max(n_lists, 1), max(1, round(scan_rows / rows_per_list)))


def _cluster_means(assigned: DataFrame, vec_col: str) -> dict[int, list]:
    """One Lloyd update: `_cid` → mean of the vectors assigned to it
    (posexplode + avg; the collect is codebook-sized, never
    corpus-sized). Empty clusters are absent."""
    by_cid: dict[int, dict[int, float]] = {}
    for r in (
        assigned.select("_cid", F.posexplode(vector.to_double(F.col(vec_col))))
        .groupBy("_cid", "pos")
        .agg(F.avg("col").alias("m"))
        .collect()
    ):
        by_cid.setdefault(int(r["_cid"]), {})[int(r["pos"])] = r["m"]
    return {c: [m[d] for d in range(len(m))] for c, m in by_cid.items()}


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd iterations entirely in DataFrame ops: init =
    first `n_centroids` vectors by id; assignment is an argmin over
    literal centroid arrays (JVM-side); means via posexplode + avg.
    Only the (tiny) centroid set ever reaches the driver."""
    # the per-iteration collect() and the literal-centroid argmin are
    # sized by n_centroids x dim — sane for IVF list counts (k ≤ ~4096)
    # but a footgun at clustering-sized k; refuse loudly instead of
    # building a megabyte-scale expression tree
    if n_centroids > 4096:
        raise ValueError(
            f"kmeans_centroids: n_centroids={n_centroids} exceeds the "
            "single-level design bound (4096); use "
            "kmeans_centroids_hierarchical (write_ivf_index dispatches "
            "there automatically for larger codebooks)"
        )
    cents = [
        [float(x) for x in r[vec_col]]
        for r in corpus.orderBy(id_col).limit(n_centroids).collect()
    ]
    for _ in range(iters):
        means = _cluster_means(
            corpus.select(
                vec_col, _nearest_centroid(F.col(vec_col), cents).alias("_cid")
            ),
            vec_col,
        )
        # an empty cluster keeps its previous centroid
        cents = [means.get(i + 1, c) for i, c in enumerate(cents)]
    return cents


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_probes: bool = True,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in inverted lists
    keyed by nearest centroid; each probe searches only its `n_probe`
    nearest lists (≈ n_probe/n_centroids of the corpus). The inverted
    list is a plain partition key — at 100 TB, write the corpus
    bucketed by cid and probing prunes whole files (`write_ivf_index`
    / `ivf_topk_indexed`). `broadcast_probes=False` flips the `_cid`
    join to a two-sided shuffle for beyond-broadcast probe sets."""
    cents = kmeans_centroids(corpus, n_centroids, iters, id_col, vec_col)
    c = assign_cids(corpus, cents, vec_col).withColumn(
        "_nrm", vector.norm(F.col(vec_col))
    )
    p = _probe_frame(probes, id_col, vec_col).withColumn(
        "_cid",
        F.explode(
            _nearest_ids(
                F.col("probe_vec"), cents, range(1, len(cents) + 1), n_probe
            )
        ),
    )
    j = c.join(F.broadcast(p) if broadcast_probes else p, "_cid").filter(
        F.col(id_col) != F.col("probe_id")
    )
    return _topk(j, k, id_col, _cos(vec_col))


def assign_cids(
    corpus: DataFrame,
    cents: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus + `_cid` = 1-based nearest-centroid id (JVM-side argmin
    via the single-literal matrix — per-scalar lit() construction
    costs one py4j round-trip each, minutes of plan building at a
    4096 x 64 codebook; same arithmetic, same ids)."""
    return corpus.withColumn(
        "_cid", _nearest_centroid(F.col(vec_col), cents)
    )


def kmeans_centroids_hierarchical(
    corpus: DataFrame,
    n_centroids: int,
    iters: int = 2,
    max_per_level: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], dict[int, list[tuple[int, list[float]]]]]:
    """Two-level k-means for codebooks past the single-level design
    bound (the `kmeans_centroids` 4096 refusal): level 1 clusters the
    corpus into `n_coarse` branches with the existing distributed
    Lloyd (literal-argmin assignment, <= max_per_level literals);
    level 2 refines each branch's share of the codebook with Lloyd
    rounds where assignment is `assign_cids_hierarchical` — a per-row
    HOF over the branch's OWN leaf array, delivered by a broadcast
    join on the branch id — so no plan ever carries more than
    max_per_level centroid literals and no row ever compares against
    more than (n_coarse + leaves-per-branch) centroids.

    Returns (coarse, leaves): coarse = branch centroids (index =
    branch id, 0-based); leaves = branch -> [(global 1-based cid,
    centroid), ...]. Branches with fewer vectors than their leaf
    quota yield fewer leaves (the codebook can come back smaller than
    requested on tiny corpora — callers see it via the flat list).
    Driver memory is bounded by the codebook itself
    (n_centroids x dim doubles — 33 MB at 65536x64), the same
    bound the index's centroid sidecar table already implies.
    Level-2 means collect as (cid, pos, avg) rows per round: also
    codebook-sized, never corpus-sized."""
    import math

    # the COARSE level is hard-capped at kmeans_centroids' 4096
    # literal-argmin bound regardless of max_per_level (level 1 IS a
    # single-level k-means); only the LEAF level — per-branch arrays,
    # no literals — scales with max_per_level. So the two-level bound
    # is 4096 * max_per_level, and raising max_per_level widens
    # branches instead of crashing level 1.
    coarse_cap = min(max_per_level, 4096)
    if n_centroids > coarse_cap * max_per_level:
        raise ValueError(
            f"kmeans_centroids_hierarchical: n_centroids={n_centroids} "
            f"exceeds the two-level bound ({coarse_cap} coarse x "
            f"{max_per_level} leaves); add a level (or raise "
            "max_per_level — it widens the per-branch leaf arrays)"
        )
    # balanced split: ~sqrt branches, but never more than the coarse
    # cap and never so few that a branch's quota would exceed the cap
    n_coarse = min(
        max(math.ceil(math.sqrt(n_centroids)),
            math.ceil(n_centroids / max_per_level)),
        coarse_cap,
    )
    quota = [
        n_centroids // n_coarse + (1 if b < n_centroids % n_coarse else 0)
        for b in range(n_coarse)
    ]
    coarse = kmeans_centroids(corpus, n_coarse, iters, id_col, vec_col)
    vecs = corpus.select(id_col, vec_col)
    # leaf init = first quota[b] vectors of each branch by id (the
    # deterministic first-n convention of kmeans_centroids, per branch)
    w = Window.partitionBy("_branch").orderBy(id_col)
    init_rows = (
        vecs.withColumn("_branch", _nearest_centroid(F.col(vec_col), coarse))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max(quota))
        .select("_branch", "_rn", vec_col)
        .collect()
    )
    by_branch: dict[int, list[list[float]]] = {}
    for r in sorted(init_rows, key=lambda r: (r["_branch"], r["_rn"])):
        b = int(r["_branch"]) - 1
        if len(by_branch.setdefault(b, [])) < quota[b]:
            by_branch[b].append([float(x) for x in r[vec_col]])
    # global 1-based cids: branch-major running offsets
    leaves: dict[int, list[tuple[int, list[float]]]] = {}
    nxt = 1
    for b in sorted(by_branch):
        leaves[b] = []
        for c in by_branch[b]:
            leaves[b].append((nxt, c))
            nxt += 1
    for _ in range(iters):
        means = _cluster_means(
            assign_cids_hierarchical(vecs, coarse, leaves, vec_col), vec_col
        )
        for b, ls in leaves.items():
            # an empty cluster keeps its previous centroid
            leaves[b] = [(cid, means.get(cid, c)) for cid, c in ls]
    return coarse, leaves


def assign_cids_hierarchical(
    corpus: DataFrame,
    coarse: list[list[float]],
    leaves: dict[int, list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus + `_cid` via the two-level argmin: nearest coarse branch
    (literal argmin, <= max_per_level literals), then nearest leaf
    within that branch (HOF over the broadcast-joined leaf array; one
    row per branch, so the join never carries the full codebook per
    row). Standard IVF coarse quantization — a vector near a branch
    boundary may land in a different list than the flat argmin would
    pick, which trades a little recall for never materializing a
    codebook-sized expression; the probe side compensates with
    n_probe_coarse > 1."""
    lt = corpus.sparkSession.createDataFrame(
        [(b + 1, ls) for b, ls in leaves.items()],
        "_branch BIGINT, _leaves ARRAY<STRUCT<cid: BIGINT, "
        "centroid: ARRAY<DOUBLE>>>",
    )
    j = corpus.withColumn(
        "_branch", _nearest_centroid(F.col(vec_col), coarse)
    ).join(F.broadcast(lt), "_branch")
    d = F.transform(
        "_leaves", lambda s: _dist2_col(F.col(vec_col), s["centroid"])
    )
    cid = F.element_at(
        "_leaves", F.array_position(d, F.array_min(d)).cast("int")
    )["cid"]
    return j.withColumn("_cid", cid).drop("_branch", "_leaves")


def _existing(spark, paths: list[str]) -> list[str]:
    """The entries of `paths` that exist. The one filesystem probe for
    sidecars and list directories: Hadoop FS, so it works on any
    configured filesystem, and no read.parquet + AnalysisException
    stands in for a storage check."""
    if not paths:
        return []
    jPath = spark._jvm.org.apache.hadoop.fs.Path
    fs = jPath(paths[0]).getFileSystem(spark._jsc.hadoopConfiguration())
    return [p for p in paths if fs.exists(jPath(p))]


def _assign(vectors: DataFrame, rows, coarse, vec_col: str) -> DataFrame:
    """`vectors` + `_cid` under a codebook: rows [(cid, centroid,
    branch or None)] in cid order, coarse centroids or None. Flat: the
    nearest centroid's STORED cid. Two-level: nearest branch, then
    nearest leaf in it (`assign_cids_hierarchical`)."""
    if coarse is None:
        return vectors.withColumn("_cid", _nearest_centroid(
            F.col(vec_col), [r[1] for r in rows], [r[0] for r in rows]
        ))
    leaves: dict[int, list[tuple[int, list[float]]]] = {}
    for cid, c, b in rows:
        leaves.setdefault(b - 1, []).append((cid, c))
    return assign_cids_hierarchical(vectors, coarse, leaves, vec_col)


def _train_assign(corpus, n_centroids, iters, max_per_level, id_col, vec_col):
    """Train the list quantizer on `corpus` and assign it → (corpus +
    `_cid`, codebook rows [(cid, centroid, branch or None)] in cid
    order, coarse centroids or None). Past `max_per_level` lists the
    quantizer is two-level; otherwise flat, with cids 1..n."""
    coarse = None
    if n_centroids > max_per_level:
        coarse, leaves = kmeans_centroids_hierarchical(
            corpus, n_centroids, iters, max_per_level, id_col, vec_col
        )
        rows = [
            (cid, c, b + 1) for b, ls in sorted(leaves.items())
            for cid, c in ls
        ]
    else:
        cents = kmeans_centroids(corpus, n_centroids, iters, id_col, vec_col)
        rows = [(i + 1, c, None) for i, c in enumerate(cents)]
    return _assign(corpus, rows, coarse, vec_col), rows, coarse


def _put_sidecar(spark, path: str, sfx: str, data) -> None:
    """Write the `<path><sfx>` sidecar from rows in its `_SIDECARS`
    schema, as one file."""
    spark.createDataFrame(data, _SIDECARS[sfx]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path + sfx)


def _sidecar(spark, path: str, sfx: str) -> DataFrame:
    """The `<path><sfx>` sidecar, read with its declared schema."""
    return spark.read.schema(_SIDECARS[sfx]).parquet(path + sfx)


def _write_codebook(spark, path: str, rows, coarse=None) -> None:
    """Write `<path>_centroids` from [(cid, centroid, branch or None)]
    and, given `coarse`, `<path>_coarse` (branch = 1-based
    position)."""
    _put_sidecar(spark, path, "_centroids", rows)
    if coarse is not None:
        _put_sidecar(spark, path, "_coarse",
                     [(i + 1, c) for i, c in enumerate(coarse)])


def _read_codebook(spark, path: str, leaves: bool = True):
    """The stored quantizer → (rows, coarse): rows = [(cid, centroid,
    branch or None)] from `<path>_centroids` in cid order; coarse =
    the `<path>_coarse` centroids in branch order, or None under the
    flat layout. `leaves=False` skips the `_centroids` collect under
    the two-level layout (rows is then None)."""
    coarse = None
    if _existing(spark, [path + "_coarse"]):
        coarse = [
            [float(x) for x in r["centroid"]]
            for r in sorted(_sidecar(spark, path, "_coarse").collect(),
                            key=lambda r: r["branch"])
        ]
        if not leaves:
            return None, coarse
    rows = sorted((
        (int(r["cid"]), [float(x) for x in r["centroid"]], r["branch"])
        for r in _sidecar(spark, path, "_centroids").collect()
    ), key=lambda r: r[0])
    return rows, coarse


def _read_pq(spark, path: str) -> list[list[list[float]]]:
    """The `<path>_pq` code books: books[s][j] is subspace s's
    centroid for code j + 1."""
    books: dict[int, list[list[float]]] = {}
    for r in sorted(_sidecar(spark, path, "_pq").collect(),
                    key=lambda r: (r["sub"], r["code"])):
        books.setdefault(int(r["sub"]), []).append(
            [float(x) for x in r["centroid"]]
        )
    return [books[s] for s in sorted(books)]


def _write_lists(assigned, path, mode, id_col, vec_col, books=None) -> None:
    """Write `_cid`-assigned vectors into the inverted lists with their
    norm as `_nrm`. Given PQ `books`, a row is (id, `_codes`, `_nrm`,
    `_cid`), where `_codes` holds, per subspace, the 1-based code of
    the nearest entry of that subspace's book (the PQ encoder)."""
    nrm = vector.norm(F.col(vec_col))
    if books is None:
        out = assigned.withColumn("_nrm", nrm)
    else:
        v = vector.to_double(F.col(vec_col))
        sub = len(books[0][0])
        codes = F.array(*[
            _nearest_centroid(F.slice(v, sub * s + 1, sub), b).cast("int")
            for s, b in enumerate(books)
        ])
        out = assigned.select(
            id_col, codes.alias("_codes"), nrm.alias("_nrm"), "_cid"
        )
    out.write.partitionBy("_cid").mode(mode).parquet(path)


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int | None = None,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_per_level: int = 4096,
) -> list[list[float]]:
    """Materialize the IVF inverted lists as a Hive-partitioned parquet
    layout: one partition directory per `_cid`, every corpus column
    plus the stored norm `_nrm`, and a tiny sibling `<path>_centroids`
    table. At scale this is the on-disk ANN index — probing reads only
    the `n_probe` matching partition directories (file pruning, pinned
    by tests/test_plans.py), never the full corpus.

    Codebooks past `max_per_level` lists go through the TWO-LEVEL path
    (kmeans_centroids_hierarchical): the layout gains a `branch`
    column in `_centroids` and a sibling `<path>_coarse` table of
    branch centroids, and `ivf_topk_indexed` detects the coarse table
    and probes hierarchically — up to 4096 x max_per_level lists, the
    10⁹-vector regime, with no level ever exceeding the
    expression-tree/driver bounds.

    `n_centroids=None` (the default) applies the √N rule via
    `scaled_ivf_centroids` — one extra count() over the corpus at
    BUILD time (an index build is already multi-pass), never at probe
    time. Past ~16.7M vectors the √N codebook exceeds `max_per_level`
    and the two-level path engages automatically. Returns the
    centroids in cid order.
    """
    if n_centroids is None:
        n_centroids = scaled_ivf_centroids(corpus.count())
    assigned, rows, coarse = _train_assign(
        corpus, n_centroids, iters, max_per_level, id_col, vec_col
    )
    _write_lists(assigned, path, "overwrite", id_col, vec_col)
    _write_codebook(corpus.sparkSession, path, rows, coarse)
    return [c for _, c, _ in rows]


def append_to_ivf_index(
    new_vectors: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> int:
    """Incrementally add vectors to an EXISTING on-disk IVF index
    without rebuilding: the stored codebook (`<path>_centroids`, plus
    `<path>_coarse` under the two-level layout) is read back, the new
    vectors are assigned with the SAME quantizer arithmetic the build
    used (flat literal argmin mapped to the stored cids / two-level
    branch-then-leaf HOF), and the rows land as additional part-files
    inside the existing `_cid=` partition directories via a
    partitioned append — probes see them immediately through the
    unchanged partition-pruned read path. Cost is one assignment pass
    + write over the NEW vectors only; the existing index bytes are
    never touched, so this is the streaming-ingest shape (pair with
    commit_log-style retries at the job level if multiple writers
    append). An IVF-PQ layout (a `<path>_pq` sidecar exists) is
    detected automatically: new vectors are additionally
    PRODUCT-QUANTIZED with the stored per-subspace code books — the
    build's encoder — and land as (id, _codes, _nrm, _cid) rows, so
    the appended data pays the same ~128x byte shrink as the original
    lists.

    The CENTROIDS ARE FROZEN: appended mass can drift the list
    balance away from the trained codebook. That trades exactness of
    nothing (probing is still correct — `ivf_index_stats` exposes the
    imbalance) for never re-reading the corpus; rebuild when
    max/median list size degrades the scan fraction you sized
    n_probe for (~4x is a good trigger). Returns the number of
    vectors appended."""
    from pyspark.sql import Observation

    spark = new_vectors.sparkSession
    # the count rides the write via an Observation: no upfront count()
    # job re-scanning the source
    obs = Observation()
    new_vectors = new_vectors.observe(obs, F.count(F.lit(1)).alias("n"))
    rows, coarse = _read_codebook(spark, path)
    assigned = _assign(new_vectors, rows, coarse, vec_col)
    books = _read_pq(spark, path) if _existing(spark, [path + "_pq"]) else None
    _write_lists(assigned, path, "append", id_col, vec_col, books)
    return int(obs.get["n"])


def delete_from_ivf_index(
    spark,
    path: str,
    vec_ids,
    id_col: str = "vec_id",
) -> int:
    """Remove vectors from an on-disk IVF / IVF-PQ index WITHOUT a
    rebuild — the removal twin of `append_to_ivf_index`. One
    column-pruned pass finds the dead vectors' inverted lists (`_cid`
    partitions — the only ones that need rewriting);
    those partitions are rewritten survivors-only via a dynamic
    partition overwrite, and lists whose every vector died are
    removed explicitly (dynamic overwrite only replaces partitions it
    writes rows for). The codebook sidecars are untouched: centroids
    are frozen by the same contract appends document, and IVF has no
    corpus-global statistics to go stale (unlike BM25's idf/avgdl) —
    a probe over the surviving index is exactly a probe over a
    from-scratch assignment of the survivors, because assignment is
    per-vector. Works identically on the PQ layout (rows are
    (id, _codes, _nrm, _cid) there). Cost tracks the touched lists,
    never the index. Returns the number of vectors removed; ids not
    in the index are ignored. `vec_ids` is a list or a single-column
    DataFrame. Single-writer discipline like appends — wrap the index
    in a commit-log table for multi-writer regimes."""
    import os
    import shutil

    ids_df = (
        vec_ids.select(F.col(vec_ids.columns[0]).alias(id_col))
        if isinstance(vec_ids, DataFrame)
        else spark.createDataFrame(
            [(i,) for i in vec_ids],
            f"{id_col} {'string' if vec_ids and isinstance(vec_ids[0], str) else 'bigint'}",
        )
    )
    p = spark.read.parquet(path)
    dead = p.join(F.broadcast(ids_df), id_col, "left_semi")
    # resolve everything the rewrite needs BEFORE it mutates the path
    # (lazy plans re-read their source on execution)
    per_cid = {
        int(r["_cid"]): int(r["n"])
        for r in dead.groupBy("_cid").agg(F.count("*").alias("n")).collect()
    }
    n_dead = sum(per_cid.values())
    if n_dead == 0:
        return 0
    cids = sorted(per_cid)
    survivors = p.filter(F.col("_cid").isin(cids)).join(
        F.broadcast(ids_df), id_col, "left_anti"
    )
    kept = {int(r[0]) for r in survivors.select("_cid").distinct().collect()}
    (
        survivors.write.partitionBy("_cid")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(path)
    )
    for c in cids:
        if c not in kept:
            shutil.rmtree(
                os.path.join(path, f"_cid={c}"), ignore_errors=True
            )
    return n_dead


def split_ivf_list(
    spark,
    path: str,
    cid: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, int]:
    """Incrementally REBALANCE a hot inverted list: when
    `ivf_index_stats` shows one `_cid` list has grown far past the
    median (frozen-centroid drift under streaming appends — the ~4x
    rebuild trigger append_to_ivf_index documents), split JUST that
    list instead of rebuilding the index: a local 2-means over the
    list's own vectors (kmeans_centroids — same deterministic
    first-n init as the build) yields two sub-centroids; the list's
    vectors are reassigned and rewritten as two partitions (the old
    cid and a fresh max_cid+1), and the codebook sidecar swaps one
    row for two (same branch under the two-level layout, so
    hierarchical probes route unchanged). Cost is one pass over the
    HOT LIST only, never the index. Probing stays
    exact-by-construction: assignment only decides which list holds a
    vector, so an exhaustive probe equals brute force before AND
    after (hash-gated in qix13); targeted probes regain the
    scan-fraction the oversized list was costing. PQ layouts refuse
    (codes cannot be re-clustered without the original vectors —
    rebuild instead). Returns (cid, new_cid)."""
    import os
    import shutil

    if _existing(spark, [path + "_pq"]):
        raise ValueError(
            "split_ivf_list cannot split an IVF-PQ list (stored codes "
            "cannot be re-clustered) — rebuild with rebuild_ivfpq_index"
        )
    rows, _ = _read_codebook(spark, path)
    by_cid = {r[0]: r for r in rows}
    if int(cid) not in by_cid:
        raise ValueError(f"no inverted list _cid={cid} in {path!r}")
    new_cid = max(by_cid) + 1
    hot = spark.read.parquet(path).filter(F.col("_cid") == int(cid))
    subs = kmeans_centroids(hot, 2, iters, id_col, vec_col)
    # kmeans_centroids always RETURNS two entries (stale init centroids
    # carry through an empty cluster), so the collapse signal is
    # identical centroids — a list of (near-)duplicate vectors that no
    # split can separate; without this maintain_ivf_index would
    # re-split the same list forever
    if len(subs) < 2 or subs[0] == subs[1]:
        raise ValueError(
            f"list _cid={cid} cannot be split: 2-means collapsed to "
            "one centroid (duplicate-heavy mass — rebuild or dedup)"
        )
    reassigned = hot.withColumn(
        "_cid", _nearest_centroid(F.col(vec_col), subs, [int(cid), new_cid])
    ).localCheckpoint(eager=True)
    # one-sidedness must be detected BEFORE the dynamic-overwrite
    # write: an all-to-new_cid assignment (subs[0] a stale mean of an
    # emptied 2-means cluster) would emit ONLY the new partition and
    # leave the old one intact — every hot-list vector would then
    # exist twice in the index. The checkpoint bounds the extra pass
    # to the hot list it already reads.
    sides = {
        int(r["_cid"])
        for r in reassigned.select("_cid").distinct().collect()
    }
    if len(sides) < 2:
        raise ValueError(
            f"list _cid={cid} cannot be split: 2-means assigned "
            "every vector to one side"
        )
    (
        reassigned.write.partitionBy("_cid")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(path)
    )
    # one sub-list can be empty only if 2-means collapsed — the len
    # check above prevents identical centroids, but a degenerate
    # assignment still needs its stale partition cleared
    kept = {
        int(r[0])
        for r in spark.read.parquet(path)
        .filter(F.col("_cid").isin([int(cid), new_cid]))
        .select("_cid").distinct().collect()
    }
    for c in (int(cid), new_cid):
        if c not in kept:
            shutil.rmtree(os.path.join(path, f"_cid={c}"),
                          ignore_errors=True)
    if len(kept) < 2:
        # distinct centroids but a one-sided assignment (all vectors
        # strictly nearer one sub-centroid): the partition state is
        # unchanged (the rewrite re-laid the same rows under the old
        # cid; the empty side was just cleaned) and the codebook has
        # NOT been swapped — refuse so callers (maintain_ivf_index)
        # see an unsplittable list, not a phantom success
        raise ValueError(
            f"list _cid={cid} cannot be split: 2-means assigned "
            "every vector to one side"
        )
    branch = by_cid[int(cid)][2]
    new_rows = sorted(
        [r for r in rows if r[0] != int(cid)]
        + [(int(cid), subs[0], branch), (new_cid, subs[1], branch)]
    )
    tmp = path + f".split-{os.getpid()}"
    _write_codebook(spark, tmp, new_rows)
    old_dir = path + f"_centroids.old-{os.getpid()}"
    os.rename(path + "_centroids", old_dir)
    os.rename(tmp + "_centroids", path + "_centroids")
    shutil.rmtree(old_dir, ignore_errors=True)
    return int(cid), new_cid


def ivf_index_stats(spark, path: str) -> DataFrame:
    """Per-inverted-list row counts for an on-disk IVF index — the
    imbalance monitor for `append_to_ivf_index`'s frozen-centroid
    drift (compare max to median; rebuild past ~4x). One column-pruned
    scan; output is codebook-sized."""
    return (
        spark.read.parquet(path)
        .groupBy("_cid")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("_cid")
    )


def maintain_ivf_index(
    spark,
    path: str,
    ratio: float = 4.0,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_splits: int = 64,
) -> dict:
    """WIRE the ~4x drift trigger `append_to_ivf_index` documents into
    one idempotent maintenance operation: read
    `ivf_index_stats`, and while any inverted list holds more than
    `ratio` x the median list size, split the largest such list
    (`split_ivf_list` — local 2-means over the hot list only, never
    the index). Stats are re-read after each split (the median moves
    as the codebook grows), so re-running on a maintained index is a
    no-op — idempotence by construction. Returns a report dict:

      {"splits": [{"cid", "new_cid", "n_before"}...],
       "n_lists": final codebook size,
       "max_over_median": final imbalance,
       "rebuild_recommended": bool}

    `rebuild_recommended` flips when maintenance CANNOT restore
    balance by splitting: a hot list whose vectors are (near-)
    identical refuses to split (2-means collapses — splitting cannot
    separate duplicates), or the split budget (`max_splits`, a
    runaway backstop at codebook scale) is exhausted while still
    imbalanced — both are the genuine rebuild-the-codebook cases.
    PQ layouts refuse maintenance outright with the same
    recommendation (stored codes cannot be re-clustered). Cost is
    one codebook-sized stats pass per split plus the hot-list passes
    themselves; at 100 TB this is the nightly index job, and it
    touches only the lists that drifted."""

    def _stats() -> dict[int, int]:
        return {
            int(r["_cid"]): int(r["n_vectors"])
            for r in ivf_index_stats(spark, path).collect()
        }

    if _existing(spark, [path + "_pq"]):
        counts = _stats()
        med = sorted(counts.values())[len(counts) // 2]
        return {
            "splits": [], "n_lists": len(counts),
            "max_over_median": round(max(counts.values()) / max(med, 1), 2),
            "rebuild_recommended": True,
            "reason": "IVF-PQ layout: stored codes cannot be "
                      "re-clustered — rebuild with rebuild_ivfpq_index",
        }

    splits: list[dict] = []
    rebuild = False
    reason = None
    unsplittable: set[int] = set()
    while True:
        counts = _stats()
        med = sorted(counts.values())[len(counts) // 2]
        over = [
            (c, n) for c, n in counts.items()
            if n > ratio * max(med, 1) and c not in unsplittable
        ]
        if not over:
            break
        if len(splits) >= max_splits:
            rebuild = True
            reason = (
                f"split budget ({max_splits}) exhausted with "
                f"{len(over)} list(s) still over {ratio}x median — "
                "drift is codebook-wide, rebuild instead"
            )
            break
        cid, n = max(over, key=lambda t: (t[1], -t[0]))
        try:
            old, new = split_ivf_list(
                spark, path, cid, iters, id_col, vec_col)
        except ValueError:
            # 2-means collapsed: the list is (near-)duplicate mass a
            # split cannot separate — flag rebuild, keep going so
            # other hot lists still get maintained
            unsplittable.add(cid)
            rebuild = True
            reason = (
                f"list _cid={cid} ({n} vectors) cannot be split "
                "(degenerate 2-means) — duplicate-heavy mass needs a "
                "rebuild or dedup"
            )
            continue
        splits.append({"cid": old, "new_cid": new, "n_before": n})
    counts = _stats()
    med = sorted(counts.values())[len(counts) // 2]
    out = {
        "splits": splits,
        "n_lists": len(counts),
        "max_over_median": round(max(counts.values()) / max(med, 1), 2),
        "rebuild_recommended": rebuild,
    }
    if reason:
        out["reason"] = reason
    return out


def _swap_index_dirs(path: str, tmp: str) -> None:
    """Publish a rebuilt index over the live one: per-directory
    os.rename for the data layout and every sidecar (each rename is
    atomic on POSIX), old directories removed after their replacement
    lands. A sidecar the NEW layout lacks (e.g. a hierarchical index
    rebuilt flat loses `_coarse`; a PQ index rebuilt plain loses
    `_pq`) is deleted so probes cannot mix layouts. Maintenance ops
    on this index family are single-writer by contract (split/delete/
    append all document it) — a prober racing the swap itself is not
    supported; wrap the index in a commit-log table for multi-writer
    regimes."""
    import os
    import shutil

    for sfx in ("", "_centroids", "_coarse", "_pq"):
        src, dst = tmp + sfx, path + sfx
        if os.path.isdir(src):
            if os.path.isdir(dst):
                old = dst + f".old-{os.getpid()}"
                os.rename(dst, old)
                os.rename(src, dst)
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.rename(src, dst)
        elif os.path.isdir(dst) and sfx:
            shutil.rmtree(dst, ignore_errors=True)


def rebuild_ivf_index(
    spark,
    path: str,
    n_centroids: int | None = None,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_per_level: int = 4096,
) -> dict:
    """ACT on `maintain_ivf_index`'s `rebuild_recommended` flag:
    retrain the codebook from the LIVE corpus and swap the index
    atomically, preserving every vector and id. A plain IVF layout
    stores the original vectors in its inverted lists, so the rebuild
    is self-contained: one read of the index (dropping the derived
    `_cid`/`_nrm`), a fresh `write_ivf_index` at a staging path —
    √N-sized by default, so a corpus that grew 100× since the
    original build gets the codebook that growth warrants — then
    `_swap_index_dirs` publishes it (per-directory atomic renames,
    the two-phase shape commit-log writers use). Cost is one full
    pass over the corpus — exactly what 'rebuild' means; the point of
    maintain's split loop is that this runs RARELY (duplicate-heavy
    mass, codebook-wide drift), not nightly. PQ layouts refuse
    (codes cannot re-train a codebook) — use `rebuild_ivfpq_index`,
    which takes the original corpus. Returns {"n_lists",
    "n_vectors"} for the rebuilt index."""
    import os

    if _existing(spark, [path + "_pq"]):
        raise ValueError(
            "rebuild_ivf_index: IVF-PQ layout (stored codes cannot "
            "re-train a codebook) — use rebuild_ivfpq_index with the "
            "original corpus"
        )
    corpus = spark.read.parquet(path).drop("_cid", "_nrm")
    # the corpus count is needed for √N sizing anyway; reuse it in
    # the report instead of a second pass
    n_vec = corpus.count()
    if n_centroids is None:
        n_centroids = scaled_ivf_centroids(n_vec)
    # stage the new index beside the old one (same filesystem, so the
    # publish renames stay atomic), then swap
    tmp = path + f".rebuild-{os.getpid()}"
    cents = write_ivf_index(
        corpus, tmp, n_centroids, iters, id_col, vec_col, max_per_level
    )
    _swap_index_dirs(path, tmp)
    return {"n_lists": len(cents), "n_vectors": n_vec}


def rebuild_ivfpq_index(
    spark,
    path: str,
    corpus: DataFrame,
    n_centroids: int | None = None,
    m_subs: int | None = None,
    n_codes: int | None = None,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_per_level: int = 4096,
) -> dict:
    """The PQ twin of `rebuild_ivf_index`. A PQ index stores CODES,
    not vectors — reconstructing training data from codes would
    re-quantize quantization error — so the rebuild takes the
    original `corpus` relation (which exists anyway at scale; it is
    what the exact re-rank joins back to). m_subs/n_codes default to
    the live index's recorded PQ geometry (read from the `_pq`
    sidecar) so a routine rebuild changes the codebooks, not the
    format; n_centroids=None re-applies the √N rule at the corpus's
    CURRENT size. Same staged-write + atomic-swap publish."""
    import os

    if m_subs is None or n_codes is None:
        books = _read_pq(spark, path)
        if m_subs is None:
            m_subs = len(books)
        if n_codes is None:
            n_codes = max(len(b) for b in books)
    tmp = path + f".rebuild-{os.getpid()}"
    cents = write_ivfpq_index(
        corpus, tmp, n_centroids, m_subs, n_codes, iters,
        id_col, vec_col, max_per_level,
    )
    _swap_index_dirs(path, tmp)
    return {"n_lists": len(cents), "n_vectors": corpus.count()}


def _candidate_lists(
    spark, path, probes, n_probe, n_probe_coarse, id_col, vec_col, where=None
) -> tuple[DataFrame, DataFrame | None]:
    """The probe's list side, shared by both indexed probes → (p,
    lists): `p` is the probe frame exploded to each probe's candidate
    `_cid`s; `lists` scans only those inverted-list directories, or is
    None when none of them exists.

    Selection follows the layout. Flat: each probe's `n_probe` nearest
    stored cids; when `n_probe` covers the codebook every cid is a
    candidate, known statically, so the distinct-cid collect job is
    skipped. Two-level: the `n_probe_coarse` nearest branches, then
    the `n_probe` nearest leaves among them (a broadcast join delivers
    just those branches' leaf arrays; no plan carries the codebook as
    literals). That subtree has two consumers (the cid collect and
    the join) and is probe-sized, so it is checkpointed.

    The scan names candidate directories, never the index root:
    listing every partition directory cost ~13 s per call at 4100
    lists. basePath keeps `_cid` a partition column and the IN filter
    keeps the pruning visible in the plan. `where` filters inside the
    scan (parquet pushdown). A scan with fewer splits than
    `defaultParallelism` is round-robin repartitioned: pair scoring
    runs map-side on it, and a small index would otherwise serialize
    scoring into one task (OPTIMIZATION_r15.md, item 1). A scan that
    already has enough splits gets no exchange."""
    rows, coarse = _read_codebook(spark, path, leaves=False)
    p = _probe_frame(probes, id_col, vec_col)
    known = None
    if coarse is None:
        cids = [r[0] for r in rows]
        p = p.withColumn("_cid", F.explode(_nearest_ids(
            F.col("probe_vec"), [r[1] for r in rows], cids, n_probe
        )))
        if n_probe >= len(cids):
            known = cids
    else:
        branches = p.withColumn("_branch", F.explode(_nearest_ids(
            F.col("probe_vec"), coarse, range(1, len(coarse) + 1),
            n_probe_coarse,
        )))
        lt = (
            _sidecar(spark, path, "_centroids")
            .groupBy(F.col("branch").alias("_branch"))
            .agg(F.collect_list(F.struct("cid", "centroid")).alias("_leaves"))
        )
        leaf_d = F.transform("_leaves", lambda s: F.struct(
            _dist2_col(F.col("probe_vec"), s["centroid"]).alias("d"),
            s["cid"].alias("cid"),
        ))
        w = Window.partitionBy("probe_id").orderBy(
            F.col("_dc.d").asc(), F.col("_dc.cid").asc()
        )
        p = (
            branches.join(F.broadcast(lt), "_branch")
            .select("probe_id", "probe_vec", "_pnrm",
                    F.explode(leaf_d).alias("_dc"))
            .withColumn("_lrn", F.row_number().over(w))
            .filter(F.col("_lrn") <= n_probe)
            .select("probe_id", "probe_vec", "_pnrm",
                    F.col("_dc.cid").alias("_cid"))
            .localCheckpoint(eager=True)
        )
    if known is None:
        known = [r["_cid"] for r in p.select("_cid").distinct().collect()]
    dirs = _existing(spark, [f"{path}/_cid={c}" for c in known])
    if not dirs:
        return p, None
    lists = (
        spark.read.option("basePath", path).parquet(*dirs)
        .filter(F.col("_cid").isin(known))
    )
    if where is not None:
        lists = lists.filter(
            F.expr(where) if isinstance(where, str) else where
        )
    return p, floor_partitions(lists)


def _empty_topk(spark, path: str, probes: DataFrame, id_col: str):
    """Schema-stable empty result for the no-candidate-directory edge:
    neighbor_id typed from the INDEX files (root listing is acceptable
    on this rare path; falls back to the probe type when the index has
    no data at all), so the output schema does not flip between the
    empty and non-empty paths when probe and corpus id types
    differ."""
    pid_t = probes.schema[id_col].dataType.simpleString()
    try:
        nid_t = (
            spark.read.parquet(path).schema[id_col].dataType.simpleString()
        )
    except Exception:
        nid_t = pid_t
    return spark.createDataFrame(
        [], f"probe_id {pid_t}, rn int, neighbor_id {nid_t}, sim double"
    )


def ivf_topk_indexed(
    spark,
    path: str,
    probes: DataFrame,
    k: int = 3,
    n_probe: int | None = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe_coarse: int = 4,
    where=None,
) -> DataFrame:
    """IVF top-k against a `write_ivf_index` layout. The candidate cid
    set (union over probes of their n_probe nearest lists) is collected
    driver-side — bounded by n_centroids, NOT by probe count — and
    applied as a static `_cid IN (...)` filter, so partition pruning
    drops non-candidate inverted lists at the file level before the
    bucket equi-join; the probe side is broadcast into that join and
    scored with the stored norms (`_candidate_lists`).

    Two-level layouts (a `<path>_coarse` sibling exists — codebooks
    past the per-level cap) probe hierarchically: `n_probe_coarse`
    nearest branches per probe, then the n_probe nearest leaves from
    just those branches. Raising n_probe_coarse buys recall near
    branch boundaries at candidate-set cost.

    `where` (SQL string or Column over the index's stored metadata
    columns — assign_cids keeps every corpus column, so labels/ids
    written with the vectors are queryable) PRE-FILTERS candidates
    inside the index read: the predicate lands on the pruned
    partition scan (parquet pushdown on top of the _cid pruning), so
    a filtered kNN never ranks, fetches, or post-discards ineligible
    vectors — the filtered-ANN shape (Qdrant/Vespa pre-filtering),
    vs post-filtering which silently returns < k under selective
    predicates. With restrictive filters raise n_probe: eligible
    neighbors concentrate in fewer lists (the classic filtered-ANN
    recall trade; the exhaustive config is exact). PQ layouts store
    codes, not metadata — use this entry point for filtered search.

    `n_probe=None` derives the scale-safe value from the live index
    (`scaled_n_probe`: ~IVF_SCAN_ROWS expected candidates per probe)
    with one codebook count (declared-schema read) + one
    metadata-cheap index count. Those counts run PER CALL — a hot
    serving loop (or a bench's timed region) should derive once via
    `scaled_n_probe` and pass the int; bench.py does exactly that in
    its untimed setup."""
    if n_probe is None:
        n_lists = _sidecar(spark, path, "_centroids").count()
        n_vec = spark.read.parquet(path).count()
        n_probe = scaled_n_probe(n_lists, n_vec)
    p, lists = _candidate_lists(
        spark, path, probes, n_probe, n_probe_coarse, id_col, vec_col, where
    )
    if lists is None:
        return _empty_topk(spark, path, probes, id_col)
    j = lists.join(F.broadcast(p), "_cid").filter(
        F.col(id_col) != F.col("probe_id")
    )
    return _topk(j, k, id_col, _cos(vec_col))


def near_duplicate_pairs(
    emb: DataFrame,
    threshold: float,
    id_bound: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs (a < b, sim ≥ threshold).
    `id_bound` caps the blocked all-pairs join for oracle-checked runs;
    at scale, route through lsh bucket keys first."""
    e = emb if id_bound is None else emb.filter(F.col(id_col) < id_bound)
    a = e.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = e.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    sim = F.round(vector.cosine(F.col("va"), F.col("vb")), 5)
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def near_duplicate_pairs_lsh(
    emb: DataFrame,
    threshold: float,
    dim: int = 64,
    n_planes: int = 6,
    seed: int = 7,
    n_bands: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs, SCALE path: bucket every vector by its
    random-hyperplane sign pattern, equi-join on the bucket key, cosine
    threshold INSIDE buckets. Work is sum of per-bucket squares instead
    of n² — the bucket key shuffles like any groupBy key, so this
    survives a 100× scale-up where the all-pairs form
    (`near_duplicate_pairs`) cannot.

    `n_bands` repeats the bucketing with independent hyperplane sets
    (seeds seed..seed+n_bands-1) and unions the candidates: a pair at
    angle θ collides per band with p = (1-θ/π)^n_planes, so recall is
    1-(1-p)^n_bands — the standard banding amplification. Measured
    curve (sf0.1, threshold 0.3) in SCALE.md §recall; defaults keep
    the single-band shape qd3b's oracle mirrors. Candidate volume
    scales with n_bands, so narrow+many bands buys recall with work —
    prune aggressively only at high thresholds where a single wide
    band is already selective."""
    bands = [
        _hyperplanes(dim, n_planes, seed + i) for i in range(n_bands)
    ]
    band_arr = F.array(
        *[bucket_key(F.col(vec_col), planes) for planes in bands]
    )
    e = (
        emb.select(id_col, vec_col)
        .withColumn("_bands", band_arr)
        .select(
            id_col,
            vec_col,
            F.posexplode("_bands").alias("_band", "_bucket"),
        )
    )
    a = e.select(
        F.col("_band").alias("_na"),
        F.col("_bucket").alias("_ba"),
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("va"),
    )
    b = e.select(
        F.col("_band").alias("_nb"),
        F.col("_bucket").alias("_bb"),
        F.col(id_col).alias("b"),
        F.col(vec_col).alias("vb"),
    )
    # (band, bucket) equality is IN the join condition (equi key for
    # the planner — pinned by tests/test_plans.py), a<b dedups within
    # bucket; distinct collapses pairs colliding in several bands
    j = a.join(
        b,
        (F.col("_na") == F.col("_nb"))
        & (F.col("_ba") == F.col("_bb"))
        & (F.col("a") < F.col("b")),
    )
    sim = F.round(vector.cosine(F.col("va"), F.col("vb")), 5)
    out = j.select("a", "b", sim.alias("sim")).filter(
        F.col("sim") >= threshold
    )
    return out.distinct() if n_bands > 1 else out


def range_search_shuffle(
    corpus: DataFrame,
    probes: DataFrame,
    threshold: float,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 5,
) -> DataFrame:
    """Exact cosine RANGE search (all neighbors with rounded sim >=
    threshold) via the same disjoint-block + probe-replication shuffle
    as brute_force_topk_shuffle: corpus hash-partitioned into
    n_blocks, probes exploded once per block, ordinary equi-key join —
    every (probe, corpus) pair evaluated exactly once, n_blocks-way
    parallel. Unlike top-k there is no partial/merge stage: the
    threshold filter runs inside the joined block (before any further
    shuffle), so only matches leave the block. This is the exact
    baseline the LSH prefilter (near_duplicate_pairs_lsh) is measured
    against; at 100 TB you run the LSH path and reserve this for
    bounded slices, but the blocked shape itself distributes the n*m
    work evenly regardless of data skew."""
    c = corpus.withColumn(
        "_blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
    ).withColumn("_nrm", vector.norm(F.col(vec_col)))
    p = _probe_frame(probes, id_col, vec_col).withColumn(
        "_blk", F.explode(_id_array(range(n_blocks)))
    )
    return (
        c.join(p, "_blk")
        .filter(F.col(id_col) != F.col("probe_id"))
        .select(
            "probe_id",
            F.col(id_col).alias("neighbor_id"),
            _cos(vec_col, sim_decimals).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )



def range_search_vectorized(
    corpus: DataFrame,
    probes: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 5,
    slack: float | None = None,
    exclude_self: bool = False,
) -> DataFrame:
    """Exact cosine range search, vectorized: the all-pairs work runs
    as ONE mapInPandas pass over the corpus with the (bounded) probe
    matrix shipped in the closure — per Arrow batch a single BLAS
    matmul replaces |batch|x|probes| interpreted higher-order-function
    cosines (the B12 finding again: F.aggregate/zip_with never codegen;
    measured 86 s -> 1.5 s at sf0.1 for the 25M-pair self-search).

    numpy's pairwise summation orders differently from the JVM left
    fold, so the matmul emits CANDIDATES at (threshold - slack) and a
    second stage recomputes the exact JVM-fold cosine for just the
    candidate pairs (probe vectors joined from PROBES, neighbor
    vectors from CORPUS — two broadcast joins of the candidate-sized
    set) and applies the certified rounded filter — values are
    bit-identical to the pure-JVM path, the matmul is only a pruner.

    The default slack is 0.5 * 10^-sim_decimals + 1e-9: the certified
    filter keeps round(sim, d) >= threshold, which admits raw sims
    down to threshold - 0.5*10^-d, so the pruner must reach at least
    that far below the threshold or boundary pairs get lost before
    the verify stage (a 1e-6 slack is INSIDE the rounding quantum);
    the 1e-9 term covers fp64 summation-order error with
    orders of magnitude to spare. A candidate short of the true
    threshold costs one wasted verify; a true pair cannot be pruned.

    `exclude_self=True` drops probe_id == neighbor_id pairs and is
    only meaningful for self-search (probes and corpus the same
    relation) — for cross-relation search coinciding ids are
    legitimate pairs, so the flag defaults off.

    The probe relation is collected to the driver and shipped in the
    closure, so this path is for BOUNDED probe sets only — above
    `max_probes` it raises and the caller should use
    `range_search_shuffle` (the two-sided beyond-broadcast path).
    Inside each Arrow batch the matmul runs over probe TILES of
    `probe_tile` columns, so executor peak memory is
    |batch| x probe_tile doubles regardless of total probe count.
    Ids keep their native Spark type end-to-end (the candidate schema
    is derived from the inputs — string/int ids both work)."""
    import numpy as np
    import pandas as pd

    if slack is None:
        slack = 0.5 * 10.0 ** (-sim_decimals) + 1e-9
    pid_t = probes.schema[id_col].dataType.simpleString()
    nid_t = corpus.schema[id_col].dataType.simpleString()
    cand_schema = f"probe_id {pid_t}, neighbor_id {nid_t}"
    # bound check AND collect in ONE action: limit(max+1) caps what
    # can ever reach the driver (so an over-bound probe set raises
    # instead of OOMing inside collect), and doing it in the same
    # collect means a nondeterministic probe plan (sample,
    # rand-filtered) cannot pass a separate count job yet materialize
    # more rows later — and bounded callers don't pay an extra
    # distributed job.
    prows = (
        probes.select(id_col, vec_col)
        .limit(_RANGE_SEARCH_MAX_PROBES + 1)
        .collect()
    )
    if len(prows) > _RANGE_SEARCH_MAX_PROBES:
        raise ValueError(
            f"range_search_vectorized: probe count exceeds the "
            f"driver-collect bound ({_RANGE_SEARCH_MAX_PROBES}); use "
            "range_search_shuffle for beyond-broadcast probe sets"
        )
    if not prows:
        # np.linalg.norm over a 0-row matrix raises; the correct
        # result is simply the empty pair set.
        return probes.sparkSession.createDataFrame(
            [], f"{cand_schema}, sim double"
        )
    pids = pd.Series([r[0] for r in prows]).to_numpy()
    P = np.array([r[1] for r in prows], dtype=np.float64)
    Pn = P / np.linalg.norm(P, axis=1, keepdims=True)
    probe_tile = 16384

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.array(list(pdf[vec_col]), dtype=np.float64)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            ids = pdf[id_col].to_numpy()
            for lo in range(0, Pn.shape[0], probe_tile):
                S = Mn @ Pn[lo : lo + probe_tile].T
                ii, jj = np.nonzero(S >= threshold - slack)
                jj = jj + lo
                if exclude_self:
                    keep = ids[ii] != pids[jj]
                    ii, jj = ii[keep], jj[keep]
                yield pd.DataFrame(
                    {"probe_id": pids[jj], "neighbor_id": ids[ii]}
                )

    cand = corpus.select(id_col, vec_col).mapInPandas(gen, cand_schema)
    a = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("_pv")
    )
    b = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv")
    )
    sim = F.round(vector.cosine(F.col("_nv"), F.col("_pv")), sim_decimals)
    # both joins broadcast the CANDIDATE-sized side (never the corpus):
    # corpus scan 1 picks up neighbor vectors, its candidate-sized
    # output broadcasts into the probe scan for the probe vectors
    with_nv = b.join(F.broadcast(cand), "neighbor_id")
    return (
        a.join(F.broadcast(with_nv), "probe_id")
        .select("probe_id", "neighbor_id", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int | None = None,
    m_subs: int = 4,
    n_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_per_level: int = 4096,
) -> list[list[float]]:
    """IVF-PQ index: the inverted lists store PRODUCT-QUANTIZED codes,
    not vectors — the storage/IO lever for the 10⁹-vector regime that
    partition pruning alone doesn't give. Each vector's dim-d
    embedding becomes m_subs uint8-sized codes (one per d/m_subs-dim
    subspace, its nearest entry in that subspace's n_codes-entry
    codebook): at 64-dim float64 that is 512 B -> 4 B per vector, so
    an inverted-list scan reads ~128x fewer bytes. Composes qvq2's PQ
    (same Lloyd protocol per subspace) with the write_ivf_index layout
    (Hive-partitioned by `_cid`, norms stored); sidecars:
    `<path>_centroids` (coarse, probe-side list selection) and
    `<path>_pq` (sub, code, centroid — the ADC lookup table's rows).
    The ORIGINAL vectors are not stored: exact re-rank at probe time
    joins the candidate ids back to the corpus relation (which exists
    anyway at scale), candidate-sized work.

    Codebooks past `max_per_level` coarse lists compose with the
    hierarchical quantizer exactly like write_ivf_index: two-level
    training/assignment, a `_coarse` sidecar, a `branch` column in
    `_centroids` — and the PQ codes ride in the (65536+)-list layout
    unchanged, which is the genuine 10⁹-vector shape: pruning bounds
    which lists are read, PQ bounds the bytes per list. Other bounds:
    n_codes <= 256 (a code must fit the byte the format promises),
    dim % m_subs == 0. `n_centroids=None` applies the same √N
    build-time rule as write_ivf_index (scaled_ivf_centroids).
    Returns the list centroids in cid order, as write_ivf_index
    does."""
    if n_centroids is None:
        n_centroids = scaled_ivf_centroids(corpus.count())
    if n_codes > 256:
        raise ValueError(
            f"write_ivfpq_index: n_codes={n_codes} > 256 — PQ codes "
            "are byte-sized by design; raise m_subs instead"
        )
    dim = len(corpus.select(vec_col).first()[0])
    if dim % m_subs:
        raise ValueError(
            f"write_ivfpq_index: dim {dim} not divisible by "
            f"m_subs={m_subs}"
        )
    sub = dim // m_subs
    spark = corpus.sparkSession
    assigned, rows, coarse = _train_assign(
        corpus, n_centroids, iters, max_per_level, id_col, vec_col
    )
    v = vector.to_double(F.col(vec_col))
    books = [
        kmeans_centroids(
            corpus.select(id_col, F.slice(v, sub * s + 1, sub).alias("sub")),
            n_codes, iters, id_col, vec_col="sub",
        )
        for s in range(m_subs)
    ]
    _write_lists(assigned, path, "overwrite", id_col, vec_col, books)
    _write_codebook(spark, path, rows, coarse)
    _put_sidecar(spark, path, "_pq", [
        (s, j + 1, c) for s, b in enumerate(books) for j, c in enumerate(b)
    ])
    return [c for _, c, _ in rows]


def ivfpq_topk_indexed(
    spark,
    path: str,
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 3,
    n_probe: int = 4,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe_coarse: int = 4,
) -> DataFrame:
    """IVF-PQ probe with asymmetric-distance pruning and EXACT
    re-rank: (1) each probe selects its n_probe nearest inverted
    lists (the same list selection and candidate-dir-only pruned read
    as ivf_topk_indexed, `_candidate_lists`); (2) candidates rank by
    the ADC approximation — per probe, a (m_subs x n_codes) lookup
    table of squared subspace distances is computed ONCE against the
    PQ codebooks and the candidate's distance is m_subs element_at
    lookups over its stored codes, touching only the 4-byte codes,
    never vectors; (3) the k*refine ADC-best candidates per probe
    join back to `corpus` by id (broadcast, candidate-sized) for the
    exact rounded-cosine top-k, so the OUTPUT values are bit-identical
    to the exact pipeline on whatever survives the pruning — ADC
    quality only moves recall, never sim values (the
    certified-filter/pruner split range_search_vectorized uses).
    With n_probe >= n_centroids and refine large the result equals
    brute force exactly — the hash-gated qix5 contract; the
    recall-at-refine trade is measured in tests/test_llm.py.

    Two-level layouts (a `<path>_coarse` sibling — 4096+ lists) select
    candidate lists hierarchically, same as ivf_topk_indexed; the ADC
    and re-rank stages are layout-agnostic."""
    books = _read_pq(spark, path)
    n_codes = max(len(b) for b in books)
    sub = len(books[0][0])
    p, lists = _candidate_lists(
        spark, path, probes, n_probe, n_probe_coarse, id_col, vec_col
    )
    if lists is None:
        return _empty_topk(spark, path, probes, id_col)
    pv = vector.to_double(F.col("probe_vec"))
    # the LUT as ONE transform over the flattened (m_subs*n_codes)
    # codebook matrix: entry i belongs to subspace i div n_codes, so
    # the matching probe slice start is computed per element JVM-side
    lut = F.transform(
        _lit_matrix([c for b in books for c in b]),
        lambda c, i: _dist2_col(
            F.slice(pv, F.floor(i / n_codes).cast("int") * sub + 1, sub), c
        ),
    )
    j = lists.join(F.broadcast(p.withColumn("_lut", lut)), "_cid").filter(
        F.col(id_col) != F.col("probe_id")
    )
    adc = None
    for s in range(len(books)):
        term = F.element_at(
            "_lut", F.lit(s * n_codes) + F.element_at("_codes", s + 1)
        )
        adc = term if adc is None else adc + term
    w_adc = Window.partitionBy("probe_id").orderBy(
        F.col("_adc").asc(), F.col(id_col).asc()
    )
    cand = (
        j.withColumn("_adc", adc)
        .withColumn("_arn", F.row_number().over(w_adc))
        .filter(F.col("_arn") <= k * refine)
        .select(
            "probe_id", "probe_vec", "_pnrm", "_nrm",
            F.col(id_col).alias("neighbor_id"),
        )
    )
    nv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv")
    )
    # broadcast the CANDIDATE-sized side into the corpus scan, never
    # the corpus; stored norms make the exact cosine one dot per pair
    rer = nv.join(F.broadcast(cand), "neighbor_id")
    return _topk(rer, k, "neighbor_id", _cos("_nv"))
