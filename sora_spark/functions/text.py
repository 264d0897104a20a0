"""Text expressions: tokenization, shingling, cross-engine fingerprints.

Cross-engine rules (SURVEY §5.5): only md5/sha2 are portable hashes
(never xxhash64/hash in declared queries); split on a single literal
space matches DuckDB string_split; regexes stay in the POSIX-safe
subset shared by Java regex and RE2.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: Column) -> Column:
    """Whitespace tokens; `split` on one literal space (portable)."""
    return F.split(text, " ")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Word n-grams as space-joined strings, 1-based positions.

    Matches the Q-L2 oracle spec exactly: shingle i is
    `w[i] || ' ' || w[i+1] || ... || w[i+n-1]` for i in 1..len(w)-n+1.
    Docs shorter than n words yield NO shingles (empty array) —
    mirroring DuckDB `unnest(range(1, greatest(len(w)-(n-2), 1)))`,
    which is empty for short docs.
    """
    w = tokens(text)
    idx = F.when(
        F.size(w) >= n, F.sequence(F.lit(1), F.size(w) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i, n)))


def minhash_one(shingles: Column) -> Column:
    """Single-permutation MinHash signature: min md5 over shingles."""
    return F.array_min(F.transform(shingles, F.md5))


def minhash_salted(shingles: Column, salt: int) -> Column:
    """MinHash under the `salt`-th permutation: min md5(salt||shingle).

    md5 with distinct salts approximates independent hash permutations;
    portable to the DuckDB oracle (md5 is cross-engine, trap 5).
    """
    return F.array_min(
        F.transform(shingles, lambda s: F.md5(F.concat(F.lit(f"{salt}|"), s)))
    )
