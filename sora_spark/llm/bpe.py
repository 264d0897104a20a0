"""BPE tokenizer training (Sennrich-style byte-pair encoding) as pure
DataFrame ops — the tokenizer-construction stage of an LLM data
pipeline (qta3 counts tokens with a FIXED BPE-ish rule; this LEARNS
the merges from the corpus).

Scale design: training runs on the WORD FREQUENCY table — one corpus
shuffle builds (word, n), and every merge iteration after that touches
only the vocabulary-sized table, exactly how reference BPE trainers
work. Per merge: one pair-count aggregation (map-side combinable) and
one collect of a SINGLE row (the argmax pair) — k merges = k tiny
driver barriers, the same bounded-collect pattern as the graph
fixpoints. The merge application itself is a greedy left-to-right fold
(`F.aggregate`) — JVM-side, codegen-friendly, and correct on
overlapping runs ('aaa' + merge(a,a) -> [aa, a], never [a, aa]).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) frequency table — the only corpus-sized pass."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def chars(word_col: str):
    """Split a word into single-character symbols (1-indexed substring
    transform — portable to engines whose split('') semantics differ)."""
    return F.expr(
        f"transform(sequence(1, length({word_col})), "
        f"i -> substring({word_col}, i, 1))"
    )


def merge_pair(sym_col, a: str, b: str):
    """Greedy left-to-right application of merge (a, b) to a symbol
    array: fold each symbol onto the accumulator, fusing when the
    accumulator tail is `a` and the incoming symbol is `b`. Greedy
    matters: overlapping runs must fuse leftmost-first."""
    return F.aggregate(
        sym_col,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def apply_merges(df: DataFrame, merges, sym_col: str = "sym") -> DataFrame:
    """Apply an ordered merge list to a symbolized table by chaining
    the JVM `merge_pair` fold once per merge — pure whole-stage-codegen
    path, right for small merge lists (plan depth grows with k)."""
    col = F.col(sym_col)
    for a, b, *_ in merges:
        col = merge_pair(col, a, b)
    return df.withColumn(sym_col, col)


def encode_words(
    words: DataFrame, merges, word_col: str = "word"
) -> DataFrame:
    """Distributed BPE ENCODE — tokenize words with a LEARNED merge
    list. The operator a training-data pipeline runs orders of
    magnitude more often than `train`.

    The merge table ships broadcast in the UDF closure (a merge list
    is KB–MB scale even at 50k merges; never a join). Each word is
    encoded by applying the merges IN TRAINING ORDER with the same
    greedy leftmost-first fold as `merge_pair`/`train` — sequential
    application is exactly what the unrolled-SQL oracle computes, so
    the two engines agree by construction. (For production-sized merge
    lists the classic rank-dict optimization — only attempt merges
    whose operands are currently present — drops the per-word cost
    from O(k·len) to O(len·log len) without changing the result,
    because a trained list's operands are only producible by earlier
    merges.)

    Scale shape: run this on the DISTINCT word table (vocab-sized),
    then join token arrays or token counts back to the corpus by word
    — the corpus-sized pass stays a hash join, the Python work stays
    vocabulary-sized. Arrow-batched pandas UDF, never per-row Python
    in the corpus path."""
    from pyspark.sql.functions import pandas_udf

    merge_list = [(a, b) for a, b, *_ in merges]

    @pandas_udf("array<string>")
    def _enc(s: pd.Series) -> pd.Series:
        def one(w):
            sym = list(w)
            for a, b in merge_list:
                out = []
                for x in sym:
                    if out and out[-1] == a and x == b:
                        out[-1] = a + b
                    else:
                        out.append(x)
                sym = out
            return sym

        return s.map(one)

    return words.withColumn("tokens", _enc(F.col(word_col)))


def encode_words_ranked(
    words: DataFrame, merges, word_col: str = "word"
) -> DataFrame:
    """Rank-dict BPE encode — same output contract and SAME RESULT as
    `encode_words`, but per-word cost scales with the word, not the
    merge list: instead of replaying all k merges over every word,
    each round merges the LOWEST-RANK pair currently present (probing
    the broadcast rank dict only for pairs the word actually
    contains), leftmost-first within the round exactly like the
    training fold.

    This is the classic tokenizer-library encode (lowest-rank-first).
    Why it matches training-order replay: merging two adjacent tokens
    never brings two OTHER tokens into adjacency, so firing merge j
    can only create pairs that contain j's output token — and an
    earlier pair i<j can contain that string only if the same token
    string is derivable by two distinct merge paths, a configuration
    `train`'s greedy count dynamics don't produce (the lower-rank
    derivation consumes the operand adjacencies the higher-rank one
    would need). Hence at every step the lowest-rank applicable pair
    is the one sequential replay would fire next, and within a pair
    the leftmost-first fold handles overlapping runs identically;
    tests pin output equality against `encode_words` on the real
    corpus at a deeper merge count than the oracle uses. The
    per-word loop runs O(distinct merges that fire) rounds of an
    O(len) scan — independent of k, the term that dominates at
    production merge-list sizes (32k–100k) where `encode_words`'s
    k-pass replay is quadratic-ish. Choose this one beyond toy merge
    lists; tests pin output equality between the two."""
    from pyspark.sql.functions import pandas_udf

    merge_list = [(a, b) for a, b, *_ in merges]
    ranks = {pair: i for i, pair in enumerate(merge_list)}

    @pandas_udf("array<string>")
    def _enc(s: pd.Series) -> pd.Series:
        def one(w):
            sym = list(w)
            while len(sym) > 1:
                best = None
                for i in range(len(sym) - 1):
                    r = ranks.get((sym[i], sym[i + 1]))
                    if r is not None and (best is None or r < best):
                        best = r
                if best is None:
                    break
                a, b = merge_list[best]
                out = []
                for x in sym:
                    if out and out[-1] == a and x == b:
                        out[-1] = a + b
                    else:
                        out.append(x)
                sym = out
            return sym

        return s.map(one)

    return words.withColumn("tokens", _enc(F.col(word_col)))


def _adjacent_pairs(df: DataFrame) -> DataFrame:
    """Weighted adjacent symbol pairs of the current word table.
    Words shorter than 2 symbols carry no pairs; the size guard also
    avoids sequence(1, 0), which Spark evaluates DESCENDING."""
    return (
        df.filter(F.size("sym") >= 2)
        .select(
            "n",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(sym) - 1), "
                    "i -> struct(element_at(sym, i) AS a, "
                    "element_at(sym, i + 1) AS b))"
                )
            ).alias("p"),
        )
        .select("p.a", "p.b", "n")
    )


def train_deep(
    words: DataFrame, n_merges: int, max_vocab: int | None = 4_000_000
) -> list[tuple[str, str, int]]:
    """Learn `n_merges` BPE merges at PRODUCTION depth (`train` at
    depth 4-16 certifies the dataflow, but a real tokenizer needs
    thousands of merges). Identical semantics to
    `train` — weighted pair counts over the word-frequency table,
    argmax with (a, b)-lexicographic ties, greedy leftmost-first
    apply — but the merge LOOP runs driver-side over the collected
    (word, n) vocabulary with Sennrich's incremental pair-count
    updates: each merge touches only the words containing the fused
    pair, so 1k merges over a fixture vocabulary run in seconds where
    1k Spark rounds would be 1k job latencies.

    Scale posture: this is how reference BPE trainers are actually
    shaped at 100 TB — the CORPUS pass (word_counts) is the one
    distributed shuffle, and the vocabulary it produces is
    driver-sized by Heaps' law (a few million types for a trillion
    tokens). Heaps' law is an expectation, not a guard, so the
    collect is HARD-BOUNDED by `max_vocab`: when the
    vocabulary exceeds it, only the `max_vocab` most frequent types
    (ties broken by word, so the cut is deterministic) are collected
    — a distributed top-N, never an unbounded pull. The default
    (4M types ≈ low hundreds of MB driver-side) covers real corpora;
    merges learned from a capped vocabulary are the standard
    frequency-floor approximation every production BPE trainer makes.
    Pass None only when the vocabulary is known bounded. The
    per-round Spark variant (`train`) stays the oracle-checked twin
    (qta15 hash-gates 16 rounds of it against unrolled SQL);
    equality of the two trainers at shared depth plus the pure-Python
    reference at depth 1000 is pinned in tests/test_llm.py::
    test_bpe_train_deep."""
    src = words.select("word", "n")
    if max_vocab is not None:
        src = src.orderBy(F.desc("n"), "word").limit(int(max_vocab))
    vocab = {r["word"]: int(r["n"]) for r in src.collect()}
    syms: dict[str, list[str]] = {w: list(w) for w in vocab}
    # pair -> weighted count, and pair -> words currently containing it
    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[str]] = {}
    for w, n in vocab.items():
        s = syms[w]
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            counts[p] = counts.get(p, 0) + n
            where.setdefault(p, set()).add(w)
    merges: list[tuple[str, str, int]] = []
    for _ in range(int(n_merges)):
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt <= 0:
            break
        merges.append((a, b, cnt))
        fused = a + b
        for w in list(where.get((a, b), ())):
            n = vocab[w]
            old = syms[w]
            # retract the word's old adjacent pairs...
            for i in range(len(old) - 1):
                p = (old[i], old[i + 1])
                c = counts.get(p, 0) - n
                if c > 0:
                    counts[p] = c
                else:
                    counts.pop(p, None)
                ws = where.get(p)
                if ws is not None:
                    ws.discard(w)
                    if not ws:
                        where.pop(p, None)
            # ...apply the merge greedily leftmost-first...
            new: list[str] = []
            for x in old:
                if new and new[-1] == a and x == b:
                    new[-1] = fused
                else:
                    new.append(x)
            syms[w] = new
            # ...and re-add the new pairs
            for i in range(len(new) - 1):
                p = (new[i], new[i + 1])
                counts[p] = counts.get(p, 0) + n
                where.setdefault(p, set()).add(w)
    return merges


def train(
    words: DataFrame, n_merges: int
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Learn `n_merges` BPE merges from a (word, n) table. Returns the
    ordered merge list [(a, b, weighted_count)] and the final
    symbolized word table (word, n, sym). Ties in pair frequency break
    on (a, b) lexicographically — stated rule, portable."""
    # lazy lineage cuts: each round's argmax collect (the very next
    # action) materializes the previous cut's blocks — one job per
    # merge round instead of two (OPTIMIZATION_r14.md, q14). Data
    # identical either way.
    df = words.select(
        "word", "n", chars("word").alias("sym")
    ).localCheckpoint(eager=False)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (
            _adjacent_pairs(df)
            .groupBy("a", "b")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        t = top[0]
        merges.append((t.a, t.b, int(t.cnt)))
        df = df.withColumn(
            "sym", merge_pair(F.col("sym"), t.a, t.b)
        ).localCheckpoint(eager=False)
    return merges, df
