"""Mergeable frequent-items sketch (Misra-Gries) — the custom-sketch
counterpart to the built-in HLL/quantile sketches the engine already
uses (SURVEY §2.4 approx tier): bounded-memory heavy hitters over an
unbounded key domain.

Shape: one `mapInPandas` pass builds an MG(k) summary PER PARTITION
(exact partition counts pruned to k counters — a valid Misra-Gries
summary), one groupBy merges summaries by key, and a final k-prune
yields <= k candidates. Only k x n_partitions counter rows ever cross
the wire — the raw key stream never shuffles, which is the whole point
at 100 TB (a hot-token groupBy would shuffle billions of rows to count
what a 16-counter sketch answers).

Guarantee (mergeable summaries, Agarwal et al., PODS 2012): merging
MG(k) summaries by adding counters and subtracting the (k+1)-th
largest preserves the error bound — total undercount <= n/(k+1). So
every item with true frequency > n/(k+1) SURVIVES the merge, and each
reported weight w satisfies freq - n/(k+1) <= w <= freq. Property-
tested against exact counts in tests/test_capabilities.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def misra_gries(df: DataFrame, col: str, k: int = 16) -> DataFrame:
    """<= k frequent-item candidates of `df[col]` as (item, w) with
    the MG(k) lower-bound weight. Deterministic for a fixed
    partitioning of `df` up to the guarantee (the EXACT answer-set is
    partition-dependent, the guarantee is not — hence capability-tier,
    not hash-tier)."""
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")

    def _partials(batches):
        import pandas as pd

        counts: dict = {}
        for pdf in batches:
            for v, c in pdf[col].value_counts().items():
                counts[v] = counts.get(v, 0) + int(c)
        if len(counts) > k:
            kth = sorted(counts.values(), reverse=True)[k]
            counts = {v: c - kth for v, c in counts.items() if c > kth}
        yield pd.DataFrame(
            {"item": list(counts.keys()), "w": list(counts.values())}
        )

    partials = df.select(F.col(col).cast("string").alias(col)).mapInPandas(
        _partials, schema="item string, w long"
    )
    merged = partials.groupBy("item").agg(F.sum("w").alias("w"))
    # global k-prune: subtract the (k+1)-th largest merged weight.
    # merged has <= k x n_partitions rows, so the (k+1)-row collect is
    # sketch-sized driver data (same budget class as kmeans centroids).
    top = [r["w"] for r in merged.orderBy(F.desc("w")).limit(k + 1).collect()]
    kth = top[k] if len(top) > k else 0
    return (
        merged.withColumn("w", F.col("w") - F.lit(kth))
        .filter(F.col("w") > 0)
        .select("item", "w")
    )


def quantile_summary(df: DataFrame, col: str, m: int = 256) -> DataFrame:
    """Deterministic mergeable quantile summary of `df[col]` as
    (value, w) weighted samples — the quantiles leg of the sketch
    family next to Misra-Gries (heavy hitters) and the built-in
    HLL/GK tiers.

    Shape (classic per-partition compression, Munro-Paterson style):
    one `mapInPandas` pass sorts each partition and cuts it into
    <= `m` equal blocks, emitting each block's MAX with the block
    size as its weight. Only <= m x n_partitions (value, w) rows
    ever leave the executors — the raw column never shuffles.

    Guarantee (deterministic, no coin flips): within a partition the
    weighted rank of any value deviates from its true rank by less
    than that partition's block stride ceil(n_p/m), so a quantile
    read off the merged summary has rank error < sum_p ceil(n_p/m)
    <= n/m + P. With the default m=256 and P=1000 partitions at
    100 TB that is ~0.4% + negligible rank error for ~256k summary
    rows. Unlike randomized KLL the answer is reproducible run-over-
    run for a fixed partitioning; like MG the exact summary is
    partition-dependent while the BOUND is not (capability-tier).
    Property-tested against exact ranks in tests/test_capabilities.py.
    """
    if m < 1:
        raise ValueError(f"m must be >= 1 (got {m})")

    def _compress(batches):
        import math

        import numpy as np
        import pandas as pd

        vals: list = []
        for pdf in batches:
            vals.append(pdf[col].dropna().to_numpy(dtype=np.float64))
        v = np.sort(np.concatenate(vals)) if vals else np.empty(0)
        n = len(v)
        if n == 0:
            yield pd.DataFrame({"value": [], "w": []}).astype(
                {"value": "float64", "w": "int64"}
            )
            return
        stride = math.ceil(n / m)
        # block ends: stride-1, 2*stride-1, ..., n-1 (last block may
        # be short; its weight is whatever remains)
        ends = np.arange(stride - 1, n, stride)
        if ends[-1] != n - 1:
            ends = np.append(ends, n - 1)
        weights = np.diff(np.concatenate(([0], ends + 1)))
        yield pd.DataFrame({"value": v[ends], "w": weights})

    return (
        df.select(F.col(col).cast("double").alias(col))
        .mapInPandas(_compress, schema="value double, w long")
        .groupBy("value")
        .agg(F.sum("w").alias("w"))
    )


def summary_quantiles(summary: DataFrame, probs) -> DataFrame:
    """Quantile estimates from a `quantile_summary` — for each p in
    `probs`, the smallest summary value whose cumulative weight
    reaches ceil(p * N). One window pass over the summary (sketch-
    sized, NOT data-sized) + a broadcast of the |probs|-row prob
    table; rank error inherits the summary's bound."""
    from pyspark.sql.window import Window

    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = summary.select(
        "value", F.sum("w").over(w).alias("cw")
    )
    total = summary.agg(F.sum("w").alias("n"))
    pdf = summary.sparkSession.createDataFrame(
        [(float(p),) for p in probs], "p double"
    )
    targets = F.broadcast(pdf.crossJoin(F.broadcast(total))).select(
        "p", F.ceil(F.col("p") * F.col("n")).alias("target")
    )
    hit = (
        cum.join(targets, cum["cw"] >= targets["target"])
        .groupBy("p")
        .agg(F.min("value").alias("value"))
    )
    return hit.orderBy("p")


def hll_registers(df: DataFrame, col: str, m: int = 64) -> DataFrame:
    """PORTABLE HyperLogLog registers over `df[col]` — the mergeable
    cardinality sketch, built from arithmetic every SQL engine shares
    (md5 + hex->int + bin + instr), so the register TABLE itself is
    hash-tier deterministic across engines (unlike the builtin
    approx_count_distinct, whose HLL++ internals are engine-private;
    this is the certificate variant, not a replacement for the
    builtin's speed).

    Per value: h = md5(value); bucket j = first-2-hex-chars % m;
    rho = 1-based position of the first set bit in the next 32 hash
    bits (33 if none). Register M_j = max rho over the bucket —
    duplicates collapse by construction, the groupBy is m-bounded,
    and merging sketches is elementwise MAX of registers (the
    mergeable-summary property; union = max is proven in the
    capability test). Returns (j, m_j) with ALL m rows present
    (empty buckets at 0)."""
    if m not in (16, 32, 64, 128, 256):
        # the bucket index is (first hash byte) % m: any m that does
        # not divide 256 biases low buckets (extra 1/256 occupancy
        # each), and the alpha constants are defined for m >= 16 —
        # so only power-of-two register counts in 16..256 are valid
        raise ValueError(
            f"m must be one of 16/32/64/128/256 (got {m}): bucket "
            "bits come from the first hash byte and the bias "
            "correction is defined for these register counts"
        )
    spark = df.sparkSession
    h = F.md5(F.col(col).cast("string"))
    j = (F.conv(F.substring(h, 1, 2), 16, 10).cast("long") % m).alias("j")
    w = F.conv(F.substring(h, 3, 8), 16, 10).cast("long")
    first_one = F.instr(F.lpad(F.bin(w), 32, "0"), "1")
    rho = F.when(first_one == 0, F.lit(33)).otherwise(first_one)
    regs = (
        df.filter(F.col(col).isNotNull())
        .select(j, rho.alias("rho"))
        .groupBy("j")
        .agg(F.max("rho").alias("m_j"))
    )
    all_j = spark.range(m).select(F.col("id").alias("j"))
    return all_j.join(regs, "j", "left").select(
        "j", F.coalesce("m_j", F.lit(0)).cast("int").alias("m_j")
    )


def hll_estimate(registers: DataFrame, m: int = 64) -> DataFrame:
    """Cardinality estimate from an `hll_registers` table (standard
    HLL with the small-range linear-counting correction). The
    harmonic sum is EXACT in doubles (64 dyadic terms with exponent
    spread << 53 bits), so the estimate is bit-deterministic given
    the registers; ln is pre-rounded before the blend (cross-libm
    1-ulp hygiene). alpha for m=64 per Flajolet et al. 2007."""
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1 + 1.079 / m)
    )
    agg = registers.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("z"),
        F.sum((F.col("m_j") == 0).cast("long")).alias("v0"),
    )
    raw = F.lit(alpha) * F.lit(float(m * m)) / F.col("z")
    lin = F.lit(float(m)) * F.round(
        F.log(F.lit(float(m)) / F.col("v0")), 8
    )
    est = F.when(
        (raw <= 2.5 * m) & (F.col("v0") > 0), lin
    ).otherwise(raw)
    return agg.select(F.round(est, 4).alias("estimate"))


def bloom_bitmap(
    df: DataFrame, col: str, m_bits: int = 4096, k: int = 3
) -> list[int]:
    """PORTABLE Bloom filter over `df[col]`, returned as m_bits/64
    signed 64-bit words — the broadcastable SCALAR form of the
    membership screen (cf. hll_registers: same engine-shared
    arithmetic discipline, so an oracle can rebuild the identical
    filter). Per value: h = md5(value); h1 = first 8 hex chars as
    int, h2 = next 8; bit_i = (h1 + i*h2) % m_bits for i in 0..k-1
    (the Kirsch–Mitzenmacher double-hash construction — k derived
    hash functions from two real ones, the standard Bloom trick).

    Build cost: one column-pruned pass + a <= m_bits-row distinct —
    the filter is then a driver-side constant. At 100 TB the build
    side is the SMALL relation (an eval set, a blocklist); the probe
    side stays map-only via bloom_probe_col. m_bits must be a
    multiple of 64. Deterministic by construction: two engines
    building from the same values set the same bits, INCLUDING the
    same false positives."""
    if m_bits % 64 != 0 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 64 "
                         f"(got {m_bits})")
    h = F.md5(F.col(col).cast("string"))
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    bits = (
        df.filter(F.col(col).isNotNull())
        .select(
            F.explode(
                F.array(*[
                    ((h1 + F.lit(i) * h2) % m_bits).alias(f"b{i}")
                    for i in range(k)
                ])
            ).alias("bit")
        )
        .distinct()
        .collect()
    )
    words = [0] * (m_bits // 64)
    for r in bits:
        b = int(r["bit"])
        words[b // 64] |= 1 << (b % 64)
    # two's-complement into signed 64-bit so the literals fit LongType
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_probe_col(
    col: str, words: list[int], k: int = 3
):
    """Map-side membership test against a bloom_bitmap: a pure
    column expression (md5 + the same double-hash + per-word bit
    tests against the LITERAL filter — no join, no shuffle, no
    Python), TRUE iff all k bits are set. This is the 100 TB
    decontamination shape: the filter rides the plan as a constant
    and the corpus pays one projection. shiftright is arithmetic but
    `& 1` masks the extracted bit, so bit 63 (sign) tests correctly."""
    m_bits = len(words) * 64
    lit_words = F.array(*[F.lit(int(w)).cast("long") for w in words])
    h = F.md5(F.col(col).cast("string"))
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    out = F.lit(True)
    for i in range(k):
        bit = (h1 + F.lit(i) * h2) % m_bits
        word = F.element_at(lit_words, (bit / 64).cast("int") + 1)
        # the DataFrame-API shiftright only takes a literal shift;
        # the SQL function accepts a column amount
        shifted = F.call_function(
            "shiftright", word, (bit % 64).cast("int")
        )
        out = out & (shifted.bitwiseAND(1) == 1)
    return out


def cms_table(
    df: DataFrame, col: str, width: int = 64, depth: int = 4
) -> DataFrame:
    """PORTABLE Count-Min sketch over `df[col]` — the frequency twin
    of hll_registers (cardinality) and bloom_bitmap (membership),
    completing the mergeable-summaries trio from the same
    engine-shared arithmetic (md5 + hex->int + Kirsch–Mitzenmacher
    double hashing). Row i of the sketch counts occurrences into
    bucket j_i = (h1 + i*h2) % width; a point estimate is
    min_i cnt[i][j_i], which can only OVER-count (collisions add,
    never subtract) — estimate >= true count always, within
    2N/width with probability 1-2^-depth (the classic CMS bound).

    Returns the FULL depth x width grid (i, j, c) with empty cells
    at 0 — grid-bounded output at any input volume, built by one
    map-side explode (depth rows per value) + one partial-aggregable
    groupBy. Merging sketches over disjoint data is elementwise SUM
    (proven in the capability test), so per-partition sketches
    combine exactly — the property that makes this a one-pass
    distributed summary."""
    spark = df.sparkSession
    h = F.md5(F.col(col).cast("string"))
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    cells = (
        df.filter(F.col(col).isNotNull())
        .select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).alias("i"),
                        ((h1 + F.lit(i) * h2) % width).alias("j"),
                    )
                    for i in range(depth)
                ])
            ).alias("cell")
        )
        .groupBy(F.col("cell.i").alias("i"), F.col("cell.j").alias("j"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    grid = spark.range(depth).select(
        F.col("id").cast("int").alias("i")
    ).crossJoin(
        spark.range(width).select(F.col("id").cast("bigint").alias("j"))
    )
    return grid.join(cells, ["i", "j"], "left").select(
        "i", "j", F.coalesce("c", F.lit(0)).cast("bigint").alias("c")
    )


def cms_point_estimates(
    probes: DataFrame,
    col: str,
    sketch_df: DataFrame,
    width: int = 64,
    depth: int = 4,
) -> DataFrame:
    """Point-frequency estimates for `probes[col]` against a
    cms_table: each probe key recomputes its depth bucket addresses
    with the SAME double hash, joins the (broadcastable,
    grid-bounded) sketch on (i, j), and keeps min(c) — returns
    (key, estimate)."""
    h = F.md5(F.col(col).cast("string"))
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    addressed = probes.select(
        F.col(col).alias("key"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("i"),
                    ((h1 + F.lit(i) * h2) % width).alias("j"),
                )
                for i in range(depth)
            ])
        ).alias("cell"),
    ).select("key", F.col("cell.i").alias("i"), F.col("cell.j").alias("j"))
    return (
        addressed.join(F.broadcast(sketch_df), ["i", "j"])
        .groupBy("key")
        .agg(F.min("c").cast("bigint").alias("estimate"))
    )


def kmv_bottom_k(df: DataFrame, col: str, k: int = 64) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) sketch of `df[col]`: the k
    smallest md5 hashes of the DISTINCT values, one row per kept hash
    — simultaneously (a) a mergeable distinct-count estimator
    (D-hat = (k-1)/h_(k) with h_(k) the k-th smallest hash mapped to
    (0,1]; Bar-Yossef et al. 2002) and (b) a DETERMINISTIC uniform
    sample of the distinct values (the hash order is a fixed random
    permutation of the domain), which is what makes this the one
    cardinality sketch that is hash-gateable cross-engine: md5 is
    portable, so both engines keep EXACTLY the same k hashes.

    Mergeability is exact set algebra: bottom-k(A ∪ B) =
    bottom-k(bottom-k(A) ∪ bottom-k(B)) — certified in the qa33
    declared row by re-sketching per-partition sketches to the
    identical global rows.

    Scale: map-side partial distinct on the hash, then
    orderBy().limit(k) — Spark plans TakeOrderedAndProject (per-
    partition top-k heaps, k-row exchange), so the raw value stream
    never global-sorts and never shuffles more than n_partitions x k
    hash rows."""
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    return (
        df.select(F.md5(F.col(col).cast("string")).alias("kmv_hash"))
        .distinct()
        .orderBy("kmv_hash")
        .limit(k)
    )


def kmv_estimate(sketch: DataFrame, k: int = 64) -> DataFrame:
    """(kth_hash, est) from a kmv_bottom_k sketch. The estimate uses
    the first 12 hex digits (48 bits — exact in BIGINT and in DOUBLE)
    as h_(k): frac = v / 16^12 is an EXACT power-of-two scaling, so
    round((k-1)/frac, 4) is a single IEEE division away from the
    integer inputs — bit-identical in any engine that evaluates the
    same expression (the qa33 oracle does). If the sketch holds fewer
    than k hashes the domain itself is smaller than k: the sketch IS
    the distinct set and est reports its exact size."""
    agg = sketch.agg(
        F.count(F.lit(1)).alias("_n"),
        F.max("kmv_hash").alias("kth_hash"),
    )
    v = F.conv(F.substring("kth_hash", 1, 12), 16, 10).cast("double")
    est = F.when(
        # a driver-side count() here would re-execute the whole
        # upstream distinct+top-k pipeline a second time; the branch
        # rides the same single aggregation
        F.col("_n") < k,
        F.round(F.col("_n").cast("double"), 4),
    ).otherwise(
        F.round(F.lit(float(k - 1)) / (v / F.lit(float(16 ** 12))), 4)
    )
    return agg.select("kth_hash", est.alias("est"))
