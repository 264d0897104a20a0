"""Overlap-graph CONSTRUCTION from sequence data — SURVEY §0.3 step 1,
the one assembly stage the round-5 engine still derived from the star
schema instead of from sequences. SORA's input is reads + suffix-prefix
overlaps [PK]; the fixtures carry no read set, so reads are derived
deterministically from `documents.text` as fixed-stride sliding windows
(shotgun-sampling shape: stride < read_len, so consecutive windows of a
document overlap by `read_len - stride` characters and the exact
suffix-prefix join reconstructs the per-document chain, while repeated
k-mers across documents contribute the branch/tip/bubble structure a
real overlap graph has — measured at sf0.01: 6 856 edges, 96 tips,
1 088 bubble pairs, 0 transitive edges, and the graph is a DAG at
sf0.001/0.01/0.1, which keeps the recursive-CTE oracles total).

Scale posture (100 TB):
- `derive_reads` is map-side only — an in-row `sequence` + `explode`
  with fan-out bounded by n_chars/stride; no shuffle.
- `overlap_edges` is a plain equi-join on the length-`min_ovl` k-mer
  key: one shuffle per side on the key, candidate pairs bounded by
  per-k-mer frequency (max 3 at sf0.01), never all-pairs.
- `max_key_freq` implements repeat masking — the classic assembler
  guard: hyper-frequent k-mers (genomic repeats / boilerplate text)
  are dropped before the join, bounding the worst key's fan-out. The
  frequency table is k-mer-sized and broadcast into an anti-semi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

READ_LEN = 40
STRIDE = 20
MIN_OVL = 20

# Reads are keyed read_id = doc_id * 1000 + window_index. The fixture
# bound (n_chars <= 553 → <= 26 windows) sits far under the 1000
# stride; derive_reads raises per-row (JVM-side raise_error on the
# read_id expression) rather than trusting it — the check fires
# wherever read_ids are consumed (joins always evaluate them).
_MAX_WINDOWS = 1000


def derive_reads(
    documents: DataFrame, read_len: int = READ_LEN, stride: int = STRIDE
) -> DataFrame:
    """Shotgun-style read set: every `stride`-spaced window of length
    `read_len` per document → (read_id, seq). Map-side only (in-row
    sequence + explode); windows are always full-length (the index
    range stops while start + read_len <= n_chars)."""
    n_win = (
        F.floor((F.col("n_chars") - F.lit(read_len)) / F.lit(stride))
        .cast("int")
        .alias("max_i")
    )
    return (
        documents.filter(F.col("n_chars") >= read_len)
        .select("doc_id", "text", n_win)
        .select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), F.col("max_i"))).alias("i"),
        )
        .select(
            F.when(
                F.col("i") < _MAX_WINDOWS,
                F.col("doc_id") * _MAX_WINDOWS + F.col("i"),
            )
            .otherwise(
                F.raise_error(
                    F.lit(
                        "derive_reads: window index >= 1000 would "
                        "collide read_ids — raise _MAX_WINDOWS"
                    )
                )
            )
            .alias("read_id"),  # loud per-row failure past the bound
            F.col("text")
            .substr(F.col("i") * stride + F.lit(1), F.lit(read_len))
            .alias("seq"),
        )
    )


def overlap_edges(
    reads: DataFrame,
    read_len: int = READ_LEN,
    min_ovl: int = MIN_OVL,
    max_key_freq: int | None = None,
) -> DataFrame:
    """Exact suffix-prefix overlap join: edge (s, d) when the last
    `min_ovl` chars of read s equal the first `min_ovl` chars of read
    d (s != d). Equi-join on the k-mer key — one shuffle per side,
    bounded by k-mer frequency. `max_key_freq` masks k-mers more
    frequent (as a prefix) than the cap before joining (repeat
    masking); None keeps every key (the oracle-exact form)."""
    sfx = reads.select(
        F.col("read_id").alias("s"),
        F.col("seq")
        .substr(F.lit(read_len - min_ovl + 1), F.lit(min_ovl))
        .alias("k"),
    )
    pfx = reads.select(
        F.col("read_id").alias("d"),
        F.col("seq").substr(F.lit(1), F.lit(min_ovl)).alias("k"),
    )
    if max_key_freq is not None:
        hot = (
            pfx.groupBy("k")
            .agg(F.count("*").alias("_c"))
            .filter(F.col("_c") > max_key_freq)
            .select("k")
        )
        pfx = pfx.join(F.broadcast(hot), "k", "left_anti")
        sfx = sfx.join(F.broadcast(hot), "k", "left_anti")
    return (
        sfx.join(pfx, "k")
        .filter(F.col("s") != F.col("d"))
        .select("s", "d")
    )


# ---- DuckDB oracle mirrors (same constants baked in) ----------------

READS_SQL = (
    "SELECT doc_id*1000 + i AS read_id, "
    "substr(text, CAST(i*20+1 AS BIGINT), 40) AS seq "
    "FROM documents, "
    "unnest(range(0, CAST(floor((n_chars-40)/20.0) AS BIGINT)+1)) AS t(i) "
    "WHERE n_chars >= 40"
)

OVERLAP_SQL = (
    "SELECT a.read_id AS s, b.read_id AS d "
    "FROM reads a JOIN reads b "
    "ON substr(a.seq, 21, 20) = substr(b.seq, 1, 20) "
    "AND a.read_id <> b.read_id"
)


def overlap_edges_max(
    reads: DataFrame,
    read_len: int = READ_LEN,
    ovl_lengths: tuple[int, ...] = (30, 20),
    max_key_freq: int | None = None,
) -> DataFrame:
    """Maximal-overlap edges (s, d, ovl): test each candidate overlap
    length (descending from read_len; a MIN-OVERLAP CUTOFF, the real
    assembler parameter — lengths far below it produce k-mer-collision
    noise, measured 2.9M spurious 10-mer edges vs 280k real ones at
    sf0.1) and keep the maximum per pair. One equi-join per candidate
    length (a small constant) + one groupBy; a production assembler
    replaces the per-length probes with seed-and-extend from the
    longest seed, but the bounded-key join shape is the same."""
    parts = []
    for ovl in ovl_lengths:
        e = overlap_edges(
            reads,
            read_len=read_len,
            min_ovl=ovl,
            max_key_freq=max_key_freq,
        )
        parts.append(e.select("s", "d", F.lit(ovl).alias("ovl")))
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    return allp.groupBy("s", "d").agg(F.max("ovl").alias("ovl"))


# stride-10 read set for the multi-length overlap query (adjacent reads
# overlap 30, distance-2 reads overlap 20)
READS10_SQL = (
    "SELECT doc_id*1000 + i AS read_id, "
    "substr(text, CAST(i*10+1 AS BIGINT), 40) AS seq "
    "FROM documents, "
    "unnest(range(0, CAST(floor((n_chars-40)/10.0) AS BIGINT)+1)) AS t(i) "
    "WHERE n_chars >= 40"
)

OVERLAP_MAX_SQL = """
SELECT s, d, ovl FROM (
  SELECT s, d, CAST(max(ovl) AS INT) AS ovl FROM (
    SELECT a.read_id AS s, b.read_id AS d, 30 AS ovl
    FROM reads a JOIN reads b
      ON substr(a.seq, 11, 30) = substr(b.seq, 1, 30)
     AND a.read_id <> b.read_id
    UNION ALL
    SELECT a.read_id, b.read_id, 20
    FROM reads a JOIN reads b
      ON substr(a.seq, 21, 20) = substr(b.seq, 1, 20)
     AND a.read_id <> b.read_id
  ) GROUP BY s, d
)"""


def contig_sequences(
    reads: DataFrame,
    chains: DataFrame,
    read_len: int = READ_LEN,
    min_ovl: int = MIN_OVL,
) -> DataFrame:
    """Merge read SEQUENCES along compacted chains → the actual contig
    strings (SURVEY §0.3 step 5's real output: first read verbatim,
    then each successor's non-overlapping suffix). `chains` is
    compact_chains(with_paths=True) output; the path explode is
    chain-length-bounded, the read lookup is one equi-join on read_id,
    and the ordered merge is an in-row sort of chain-length pieces —
    no window, no driver."""
    parts = chains.select(
        "start", F.posexplode(F.split("path", "-")).alias("pos", "rid")
    ).withColumn("rid", F.col("rid").cast("bigint"))
    joined = parts.join(
        reads.select(F.col("read_id").alias("rid"), "seq"), "rid"
    )
    piece = F.when(F.col("pos") == 0, F.col("seq")).otherwise(
        F.col("seq").substr(F.lit(min_ovl + 1), F.lit(read_len - min_ovl))
    )
    return (
        joined.select("start", "pos", piece.alias("piece"))
        .groupBy("start")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "piece"))),
                    lambda x: x["piece"],
                ),
            ).alias("contig")
        )
    )


def kmer_spectrum(df, text_col: str = "text", k: int = 8):
    """K-mer multiplicity spectrum → (multiplicity, n_kmers): the
    coverage histogram every assembler computes first (error k-mers
    sit at multiplicity 1-2, true coverage forms the main peak, repeats
    form the tail — the cutoffs for abundance filtering come from
    here).

    Shape: substring explode (JVM-side `transform(sequence(...))`, no
    Python in the row path) → k-mer count groupBy → count-of-counts
    groupBy. Two shuffles; the first carries (kmer, partial-count)
    after map-side combine, the second is histogram-sized. Texts
    shorter than k contribute nothing (explicit filter — Spark's
    `sequence(1, 0)` would DESCEND, not return empty).
    """
    # explode-first + scalar substring: same k-mer multiset as the
    # old transform(...) lambda form, but fully codegen — see
    # de_bruijn_edges for the HOF-interpretation rationale.
    kmers = (
        df.filter(F.length(text_col) >= k)
        .select(
            F.col(text_col).alias("_t"),
            F.explode(
                F.sequence(F.lit(1), F.length(text_col) - F.lit(k - 1))
            ).alias("_i"),
        )
        .select(F.col("_t").substr(F.col("_i"), F.lit(k)).alias("kmer"))
    )
    counts = kmers.groupBy("kmer").agg(F.count("*").alias("multiplicity"))
    return (
        counts.groupBy("multiplicity")
        .agg(F.count("*").alias("n_kmers"))
        .select(
            F.col("multiplicity").cast("bigint").alias("multiplicity"),
            F.col("n_kmers").cast("bigint").alias("n_kmers"),
        )
    )


def coverage_depth(
    documents: DataFrame,
    read_len: int = READ_LEN,
    stride: int = STRIDE,
) -> DataFrame:
    """Depth-of-coverage histogram → (depth, n_positions): for every
    source position, how many derived reads cover it, aggregated to a
    histogram — the pileup track every assembler QCs against (holes =
    depth 0 regions, repeats/over-sampling = depth spikes). Positions
    past the last full window are covered by fewer (or zero) reads;
    they're counted, not clipped, so holes are VISIBLE in the
    histogram.

    Shape: reads × read_len position explode (map-side sequence, no
    Python), per-(doc, pos) count with map-side combine, histogram
    groupBy — the k-mer-spectrum shape over positions instead of
    substrings. Output is histogram-sized.
    """
    n_win = (
        F.floor((F.col("n_chars") - F.lit(read_len)) / F.lit(stride))
        .cast("int")
        .alias("max_i")
    )
    covered = (
        documents.filter(F.col("n_chars") >= read_len)
        .select("doc_id", "n_chars", n_win)
        .select(
            "doc_id",
            "n_chars",
            F.explode(F.sequence(F.lit(0), F.col("max_i"))).alias("i"),
        )
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("i") * stride + 1,
                    F.col("i") * stride + read_len,
                )
            ).alias("pos"),
        )
    )
    per_pos = covered.groupBy("doc_id", "pos").agg(
        F.count("*").alias("depth")
    )
    # positions with zero coverage: the tail past the last full window
    # AND every position of documents too short to yield a single read
    # (n_chars < read_len) — those docs are entirely holes and must
    # show up as depth-0 mass, not vanish from the histogram
    # (ADVICE r06).  No n_chars filter here, unlike `covered`.
    all_pos = documents.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.col("n_chars").cast("int"))
        ).alias("pos"),
    )
    full = all_pos.join(per_pos, ["doc_id", "pos"], "left").select(
        F.coalesce(F.col("depth"), F.lit(0)).alias("depth")
    )
    return (
        full.groupBy("depth")
        .agg(F.count("*").cast("bigint").alias("n_positions"))
        .select(F.col("depth").cast("bigint").alias("depth"), "n_positions")
    )


def bwt(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sentinel: str = "\x01",
) -> DataFrame:
    """Burrows-Wheeler transform per document → (id, bwt): the
    FM-index precursor modern read-mappers build over the reference.
    Expressed as the engine's native shapes — rotation EXPLODE
    (map-side substring arithmetic), a DISTRIBUTED SORT on the
    rotation strings, and an order-preserving aggregation — which is
    exactly how a cluster builds a BWT for a string too large for one
    machine (the per-rotation rows shard and sort-merge like any other
    key). Sentinel terminates the string and sorts first (byte \\x01 —
    UTF-8 byte order agrees between engines).
    """
    t = F.concat(F.col(text_col), F.lit(sentinel))
    n = F.length(t)
    rot = df.select(
        F.col(id_col).alias("id"),
        t.alias("_t"),
        n.alias("_n"),
        F.explode(F.sequence(F.lit(1), n)).alias("i"),
    ).select(
        "id",
        # rotation starting at i; preceding char is the BWT output
        F.concat(
            F.substring(F.col("_t"), F.col("i"), F.col("_n")),
            F.substring(F.col("_t"), 1, F.col("i") - 1),
        ).alias("rot"),
        F.when(F.col("i") == 1, F.substring(F.col("_t"), F.col("_n"), 1))
        .otherwise(F.substring(F.col("_t"), F.col("i") - 1, 1))
        .alias("ch"),
    )
    # ordered aggregation: sort structs inside the agg (rotations are
    # unique per doc because of the sentinel, so the order is total)
    return rot.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rot", "ch"))),
                lambda s: s["ch"],
            ),
            "",
        ).alias("bwt")
    )


# ---- de Bruijn graph (the other assembly paradigm) ------------------

DEBRUIJN_K = 12


def de_bruijn_edges(documents: DataFrame, k: int = DEBRUIJN_K) -> DataFrame:
    """DISTINCT de Bruijn edges over the document corpus: nodes are
    k-char substrings (k-mers), one edge per consecutive window pair
    (positions i, i+1) -> (s, d). The de-Bruijn-graph half of the
    assembly story (overlap-layout-consensus lives in overlap_edges):
    contigs fall out as non-branching chains, no pairwise read join at
    all - construction is a MAP-SIDE in-row window expansion (fan-out
    = chars per doc) followed by ONE distinct, so at 100 TB it
    shuffles each window once and nothing else. Mirrors DEBRUIJN_SQL
    exactly (full-length windows only).

    Shuffle-size trick: the edge (s, d) is a bijection of the single
    (k+1)-char window w (s = w[:k], d = w[1:]), so the distinct runs
    on w — one (k+1)-char string per row instead of a 2k-char pair —
    and s/d are derived map-side AFTER the dedup. Same distinct edge
    set, ~45% less shuffle payload and half the substr work in the
    expansion (measured 4.4 s -> 2.9 s warm at sf0.1, round-9)."""
    # explode-FIRST with a scalar substr (OPTIMIZATION_r14.md, q13):
    # the old transform(sequence, i -> substr) lambda built a per-doc
    # window ARRAY through the interpreted higher-order-function path
    # (HOF lambdas don't enter whole-stage codegen);
    # exploding the index sequence and slicing with a plain substr
    # keeps the whole expansion in codegen and allocates no arrays.
    # Same window strings, same multiplicity, same distinct set.
    n_win = (F.col("n_chars") - F.lit(k)).cast("int")
    w = (
        documents.filter(F.col("n_chars") >= k + 1)
        .select(
            "text",
            F.explode(F.sequence(F.lit(1), n_win)).alias("i"),
        )
        .select(F.col("text").substr(F.col("i"), F.lit(k + 1)).alias("w"))
        .distinct()
    )
    return w.select(
        F.col("w").substr(1, k).alias("s"),
        F.col("w").substr(2, k).alias("d"),
    )


# Oracle twin. NOTE: keep this free of bare UNION CTEs - when embedded
# under WITH RECURSIVE (the unitig walk), DuckDB reinterprets a
# UNION-shaped CTE as a recursive one and silently skips the dedup
# (measured: node count doubled). Use UNION ALL + explicit DISTINCT.
DEBRUIJN_SQL = (
    "SELECT DISTINCT substr(text, i, 12) AS s, "
    "substr(text, i + 1, 12) AS d "
    "FROM documents, "
    "unnest(range(1, n_chars - 12 + 1)) AS t(i) "
    "WHERE n_chars >= 13"
)
