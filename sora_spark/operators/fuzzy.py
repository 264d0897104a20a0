"""Fuzzy (edit-distance bounded) string join.

Scale shape: q-gram blocking — each side explodes into character
q-grams, candidates come from a gram EQUI-join (ordinary shuffle key,
never all-pairs), then `levenshtein() <= max_distance` verifies. By
q-gram count filtering, strings of length >= q·(d+1) within edit
distance d always share at least one q-gram — BELOW that bound a
distance-d pair can have fully disjoint gram sets (e.g. 'abcd' vs
'abxcd' at d=1, q=3), so gram blocking alone is not exact. Every
string shorter than q·(d+1) therefore also joins ONE dedicated
short-string block key: either both sides of a distance-<=d pair meet
the q·(d+1) bound (gram recall exact) or the shorter side is under it
and the longer side is under q·(d+1)+d <= q·(d+2)... — precisely, if
min(len) < q·(d+1) then max(len) < q·(d+1)+d, so the bucket cutoff
includes both sides when set to q·(d+1)+d. Recall is exact overall.
The short bucket is quadratic in the COUNT of sub-(q(d+1)+d)-length
strings — for q=3, d=1 that is strings under 7 chars. Lower q (and
the cutoff with it) or pre-filter very short strings consciously when
the corpus is dominated by them; silent false negatives are worse
than a measurable bucket cost (round-3 review finding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sora_spark.operators._util import suffix_columns


_SHORT_KEY = "\x01short\x01"  # cannot collide with a real q-gram


def _with_grams(df: DataFrame, col_name: str, q: int, max_distance: int):
    """`df` with one row per block key in `_g`: the string's q-grams
    plus (below the short cutoff) the dedicated short-string key.

    Explode-first (the de_bruijn recipe, OPTIMIZATION_r15.md): the old
    form built the gram ARRAY via a transform() lambda (interpreted,
    one array allocation per row) and exploded it; here the index
    stream explodes first and a scalar substring slices each gram
    inside whole-stage codegen. Index i <= n_grams is the i-th gram;
    the one extra index (present iff len < cutoff) is the short key —
    same key multiset as concat(grams, short) exploded.

    Short-bucket semantics unchanged: every string that COULD pair
    with a string below the q(d+1) exact-gram-recall bound joins the
    one short bucket — if min(len) < q(d+1) then max(len) < q(d+1)+d,
    so the cutoff catches both sides of every such pair; strings
    meeting the bound on both sides are covered by gram blocking
    alone. NULL strings produce no keys (length(NULL) comparisons are
    false-ish in both forms)."""
    col = F.col(col_name)
    cutoff = q * (max_distance + 1) + max_distance
    n_grams = F.when(F.length(col) >= q, F.length(col) - (q - 1)).otherwise(
        F.lit(0)
    )
    total = n_grams + F.when(F.length(col) < cutoff, 1).otherwise(0)
    # total == 0 only for NULL strings (len < q always implies
    # len < cutoff); guard anyway — sequence(1, 0) would step DOWN
    idx = F.when(
        total >= 1, F.sequence(F.lit(1), total)
    ).otherwise(F.array().cast("array<int>"))
    return df.withColumn("_i", F.explode(idx)).withColumn(
        "_g",
        F.when(
            F.col("_i") <= n_grams, F.substring(col, F.col("_i"), F.lit(q))
        ).otherwise(F.lit(_SHORT_KEY)),
    ).drop("_i")


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    max_distance: int = 2,
    q: int = 3,
) -> DataFrame:
    """Pairs (left row, right row with columns suffixed `_r`, distance)
    with levenshtein(left_col, right_col) <= max_distance.

    Dedup semantics: the gram join produces one candidate per SHARED
    gram; duplicates are collapsed by full-row dropDuplicates, so the
    output is distinct ROW-VALUE pairs. Rows that are bytewise
    identical collapse too — carry a unique id column on each side
    when row identity matters (then full-row dedup keys on it)."""
    r = suffix_columns(right, "_r")
    right_col_r = right_col + "_r"
    lg = _with_grams(left, left_col, q, max_distance)
    rg = _with_grams(r, right_col_r, q, max_distance)
    cand = lg.join(rg, "_g").drop("_g").dropDuplicates()
    dist = F.levenshtein(F.col(left_col), F.col(right_col_r))
    return cand.withColumn("distance", dist).filter(
        F.col("distance") <= max_distance
    )
