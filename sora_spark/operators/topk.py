"""Top-k per group with a map-side combiner.

The plain window form (`row_number() OVER (PARTITION BY g ORDER BY v)`
then `rn <= k`) shuffles EVERY row to the group's reducer. For small k
and many rows per group, almost all of that shuffle is waste. Here a
`mapInPandas` partial pass keeps at most k rows per (group, Arrow
batch) — a superset of each partition's true top-k, since the global
top-k rows of a group each survive whatever batch they sit in — and
only that reduced stream shuffles into the exact window pass.
Shuffle volume drops from |rows| to ≲ k · groups · batches.

Ties on `order_col` are broken by `tiebreak_cols` (required — without
a total order, "top-k" is not well-defined and the partial pass could
legally disagree with the final pass). All variants share this
precondition: (order_col, *tiebreak_cols) must totally order each
group's rows.

MEASURED trade (local[32], 4.8M rows, 3 groups, k=5): window 5.8 s vs
combiner 6.8 s — on a single machine the shuffle is nearly free and
the Arrow transit through Python dominates, so the combiner LOSES
locally. It pays where shuffle crosses a network: volume drops
~1000× here (4.8M rows → k·groups·batches), which is the binding cost
on a real cluster. Use the plain window form on local/colocated data."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    tiebreak_cols: list[str],
    descending: bool = True,
) -> DataFrame:
    """Rows of the top-k per group, with `rn` (1-based rank)."""
    if "rn" in df.columns:
        # withColumn("rn", ...) would silently replace the caller's
        # column (same guard as the salted variant)
        raise ValueError(
            "topk_per_group: input already has `rn`; rename before "
            "calling (the operator emits `rn`)"
        )
    sort_cols = [order_col, *tiebreak_cols]
    ascending = [not descending] + [True] * len(tiebreak_cols)

    # pandas mirrors of Spark's NULL ordering: desc == NULLS LAST,
    # asc == NULLS FIRST (review finding — pandas defaults to NaN last
    # in both directions and drops NaN group keys entirely).
    # Tiebreak columns are assumed non-null (they define the total
    # order; a null tiebreak makes "top-k" ill-defined anyway).
    na_pos = "last" if descending else "first"

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield (
                    pdf.sort_values(
                        sort_cols, ascending=ascending, na_position=na_pos
                    )
                    .groupby(group_cols, sort=False, dropna=False)
                    .head(k)
                )

    reduced = df.mapInPandas(partial, df.schema)
    order = [
        F.col(order_col).desc() if descending else F.col(order_col).asc(),
        *[F.col(c).asc() for c in tiebreak_cols],
    ]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        reduced.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def topk_per_group_salted(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    tiebreak_cols: list[str],
    descending: bool = True,
    n_salts: int = 32,
) -> DataFrame:
    """Skew-proof top-k per group, pure JVM: phase 1 ranks within
    (group, salt) — so `n_salts` reducers SHARE each hot group — and
    keeps k rows per salted bucket; phase 2's exact per-group window
    then sees at most k·n_salts rows per group REGARDLESS of the
    group's input size. Same result as the plain window (each global
    top-k row is necessarily top-k within its own salt bucket; both
    phases use the identical total order, so ranks are exact).

    This is the window-skew remedy AQE does not provide: adaptive
    execution splits skewed JOIN partitions but a skewed
    row_number() partition still lands on one task. With an organic
    1.5%-hot key (gen_organic sf1.0), one task owns ~27k of 1.5M
    orders under the plain window; here it owns ≤ k·n_salts rows.
    The extra exchange costs ~20-30% on unskewed local data — use the
    plain window until a group exceeds what one task should sort
    (the same trade as topk_per_group's Arrow combiner, but staying
    JVM-side: no Python transit, so it beats the combiner whenever
    whole-row Arrow serialization dominates — measured in SCALE.md
    round 10)."""
    clash = {"_salt", "_prn", "rn"} & set(df.columns)
    if clash:
        # withColumn would silently REPLACE (and drop then remove) a
        # caller column of the same name — fail loudly instead
        raise ValueError(
            f"topk_per_group_salted: input already has {sorted(clash)}; "
            "rename before calling (the operator emits `rn` and uses "
            "_salt/_prn internally)"
        )
    if not tiebreak_cols:
        # F.hash() with zero columns raises an opaque py4j error; and
        # without tiebreaks (order_col, tiebreak_cols) is not a total
        # order, so the salted/plain equivalence guarantee is void —
        # which rows of a tie survive would differ per salt layout
        raise ValueError(
            "topk_per_group_salted: tiebreak_cols must be non-empty — "
            "(order_col, *tiebreak_cols) must totally order each group "
            "for the salted result to equal the plain window's"
        )
    salt = F.pmod(
        F.hash(*[F.col(c) for c in tiebreak_cols]), F.lit(n_salts)
    )
    order = [
        F.col(order_col).desc() if descending else F.col(order_col).asc(),
        *[F.col(c).asc() for c in tiebreak_cols],
    ]
    w1 = Window.partitionBy(*group_cols, "_salt").orderBy(*order)
    reduced = (
        df.withColumn("_salt", salt)
        .withColumn("_prn", F.row_number().over(w1))
        .filter(F.col("_prn") <= k)
        .drop("_salt", "_prn")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        reduced.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
    )


def estimate_max_group_rows(
    df: DataFrame,
    group_cols: list[str],
    sample_fraction: float = 0.001,
    seed: int = 8191,
) -> int:
    """Sampled estimate of the LARGEST group's row count: scan
    `sample_fraction` of the group columns only (column-pruned at the
    source), count per group map-side, take the max. One cheap eager
    job; the estimate scales the sampled max back up by 1/fraction.
    Deterministic seed so the dispatch below is stable run-to-run."""
    r = (
        df.select(*group_cols)
        .sample(fraction=sample_fraction, seed=seed)
        .groupBy(*group_cols)
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    return 0 if r is None else int(r / sample_fraction)


def choose_topk_strategy(
    df: DataFrame,
    group_cols: list[str],
    skew_threshold: int = 5_000_000,
    sample_fraction: float = 0.001,
) -> str:
    """'salted' when the estimated hottest group exceeds
    `skew_threshold` rows, else 'plain'. The threshold is a REGIME
    boundary, not a correctness boundary — both paths are exact (qw15
    certifies the salted form against the plain-window oracle), so a
    sampling error costs only performance. Default 5M: a single-task
    sort of a few million rows is fine (a measured 27k-row hot task
    was free); past that one reducer owns the whole hot group
    no matter the cluster size, which is exactly what the salted form
    bounds at k*n_salts rows per task."""
    return (
        "salted"
        if estimate_max_group_rows(df, group_cols, sample_fraction)
        > skew_threshold
        else "plain"
    )


def topk_per_group_adaptive(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    tiebreak_cols: list[str],
    descending: bool = True,
    n_salts: int = 32,
    skew_threshold: int = 5_000_000,
    sample_fraction: float = 0.001,
) -> DataFrame:
    """THE per-group top-k entry point: route skewed inputs to the
    salted two-phase form automatically, the same spirit as AQE's
    skew-join split (which does not cover windows). A cheap sampled
    pre-count estimates the hottest group; past `skew_threshold` rows
    the salted form runs (every task sorts <= k*n_salts rows
    regardless of group size), otherwise the plain single-window form
    (no extra exchange). Identical results either way — qw15's oracle
    proves the salted/plain equivalence, and both share the
    (order_col, *tiebreak_cols) total-order precondition.

    Callers need not know their key distribution; the operator
    measures it."""
    # validate BEFORE the sampled pre-count — invalid arguments must
    # not cost a cluster job, and both dispatch targets share these
    # preconditions
    clash = {"_salt", "_prn", "rn"} & set(df.columns)
    if clash:
        raise ValueError(
            f"topk_per_group_adaptive: input already has {sorted(clash)}; "
            "rename before calling (the operator emits `rn` and the "
            "salted path uses _salt/_prn internally)"
        )
    if not tiebreak_cols:
        raise ValueError(
            "topk_per_group_adaptive: tiebreak_cols must be non-empty — "
            "(order_col, *tiebreak_cols) must totally order each group"
        )
    if choose_topk_strategy(
        df, group_cols, skew_threshold, sample_fraction
    ) == "salted":
        return topk_per_group_salted(
            df, group_cols, order_col, k, tiebreak_cols,
            descending=descending, n_salts=n_salts,
        )
    order = [
        F.col(order_col).desc() if descending else F.col(order_col).asc(),
        *[F.col(c).asc() for c in tiebreak_cols],
    ]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )
