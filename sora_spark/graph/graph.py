"""Property-graph algorithms as DataFrame dataflow (SURVEY §2.10).

The reference's capability surface is classical string-graph assembly
reduction (transitive reduction, tip/dead-end removal, bubble
detection, path compaction) plus the generic graph ops they build on
(degrees, k-hop, triangles, connected components). Re-expressed
Spark-first:

- one-shot ops are joins + aggregations (Catalyst plans them; the
  self-join shuffles on the join key and AQE picks broadcast vs SMJ);
- fixpoint ops (connected components) are a driver-side loop where
  EVERY iteration ends in a checkpoint — without the lineage cut the
  plan tree grows exponentially and the optimizer stalls (SURVEY §4.3,
  the classic failure mode of DataFrame graph code).

Non-convergence: a loop whose answer IS a fixpoint raises
`FixpointError` when `max_iter` rounds did not reach it — a partial
result is never returned as if it were the answer. Loops whose round
bound is part of their contract (`reduce_pipeline`,
`assembly_pipeline`, `compact_chains`, `bfs_hops`, `pagerank`,
`label_propagation`) return once that bound is reached.

Scale posture: edges are repartitioned on `s` once up front so the
iterated self-joins reuse one partitioning; convergence checks are
single aggregate actions (one job per iteration, the unavoidable
synchronization barrier of label propagation).
"""

from __future__ import annotations

import gc
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DecimalType,
    IntegerType,
    LongType,
    ShortType,
)


class FixpointError(RuntimeError):
    """A fixpoint loop exhausted `max_iter` rounds without converging.
    Its partial state (labels, peel, distances) is not the answer, so
    the loop raises instead of returning it; raise `max_iter`."""

    def __init__(self, loop: str, max_iter: int, hint: str = ""):
        super().__init__(
            f"{loop}: no fixpoint within max_iter={max_iter} rounds"
            + (f" ({hint})" if hint else "")
        )


@dataclass
class Graph:
    """Edges (s, d) with optional vertex frame. Undirected algorithms
    treat (s, d) as canonical (s < d) undirected edges.

    `reliable_checkpoint_dir`: every fixpoint loop cuts lineage with a
    checkpoint per round. The default (None) uses
    `localCheckpoint(eager=True)` — blocks live in executor storage,
    zero HDFS traffic, correct on a healthy cluster — but a local
    checkpoint DIES WITH ITS EXECUTOR: on preemptible/spot nodes a
    40-round CC restarts from zero when one machine disappears late in
    the run. Pass a fault-tolerant path (HDFS/S3) to swap every
    per-round cut in this class for a reliable `checkpoint()` against
    that directory: rounds then survive executor loss at the price of
    one distributed write per round. Same results bit-for-bit either
    way (one parametrized oracle test runs CC/PageRank/k-core under
    both modes).

    RETENTION: Spark never deletes reliable checkpoint files unless
    `spark.cleaner.referenceTracking.cleanCheckpoints=true` was set at
    SESSION BUILD time (ContextCleaner reads it once) — without it a
    40-round loop retains ~rounds x dataset bytes in the directory.
    `sora_spark.session.build_session` sets it by default; sessions
    built elsewhere must set it themselves (it is reference-tracked:
    a round's files are deleted only once nothing holds that RDD, so
    pinned frames stay readable)."""

    edges: DataFrame  # columns: s, d (+ attrs)
    vertices: DataFrame | None = None
    reliable_checkpoint_dir: str | None = None

    def _cut(self, df: DataFrame, eager: bool) -> DataFrame:
        if self.reliable_checkpoint_dir is None:
            return df.localCheckpoint(eager=eager)
        sc = df.sparkSession.sparkContext
        # setCheckpointDir once per context/dir, not per round — it
        # round-trips to the JVM and mkdirs the path every call
        if getattr(sc, "_sora_ckpt_dir", None) != self.reliable_checkpoint_dir:
            sc.setCheckpointDir(self.reliable_checkpoint_dir)
            sc._sora_ckpt_dir = self.reliable_checkpoint_dir
        return df.checkpoint(eager=eager)

    def _cp(self, df: DataFrame) -> DataFrame:
        """The per-round lineage cut every fixpoint in this class uses
        (via `.transform(self._cp)` so call sites stay postfix).
        Local by default; reliable when the Graph was built with
        `reliable_checkpoint_dir` (see class docstring for the
        executor-loss trade)."""
        return self._cut(df, eager=True)

    def _cp_lazy(self, df: DataFrame) -> DataFrame:
        """`_cp` WITHOUT the eager materialization job, for call sites
        whose very next statement is an action over the cut frame: that
        action materializes the checkpoint blocks as it runs, so the
        round pays one pass instead of a materialize pass plus a read
        pass (see OPTIMIZATION_r14.md). Bit-identical data either way;
        in reliable mode doCheckpoint() runs at the end of that first
        action's job, exactly as after an eager count."""
        return self._cut(df, eager=False)

    # ---- basic structure -------------------------------------------------

    def vertex_ids(self) -> DataFrame:
        # one scan (r14): explode both ends of each edge instead of a
        # union of two selects — the union form derived the WHOLE
        # upstream edge subplan once per branch (no ReusedExchange when
        # the derivation carries lambda/Generate stages — the qg1 plan
        # finding). Same vertex set: each edge contributes s and d
        # either way, nulls included, before the distinct.
        return (
            self.edges.select(
                F.explode(F.array(F.col("s"), F.col("d"))).alias("v")
            )
            .distinct()
        )

    def _sym_edges(self) -> DataFrame:
        """Both orientations of every edge in ONE pass (r14): the
        union-of-two-selects form re-derived the whole upstream edge
        subplan once per branch (exchange reuse never fires across the
        derivations' lambda-bearing aggregates — the qg1/qg4 plan
        finding); exploding each edge into (s,d) + (d,s) emits the
        identical row multiset over one derivation."""
        return self.edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("s").alias("s"), F.col("d").alias("d")),
                    F.struct(F.col("d").alias("s"), F.col("s").alias("d")),
                )
            ).alias("e")
        ).select("e.s", "e.d")

    def degrees(self) -> DataFrame:
        """Total degree per vertex for canonical undirected edges.

        One scan (r14): the old union-of-two-selects form ran the full
        upstream edge derivation once per branch (two lineitem scans +
        two pair expansions in the qg1 plan); exploding both ends
        counts the identical (v) multiset — nulls included — over ONE
        derivation and one exchange."""
        ends = self.edges.select(
            F.explode(F.array(F.col("s"), F.col("d"))).alias("v")
        )
        return ends.groupBy("v").agg(F.count("*").alias("degree"))

    def degree_histogram(self) -> DataFrame:
        return (
            self.degrees()
            .groupBy("degree")
            .agg(F.count("*").alias("n_vertices"))
        )

    # ---- one-shot joins --------------------------------------------------

    @staticmethod
    def _in_out_degrees(edges: DataFrame) -> DataFrame:
        """(v, outd, ind) for every non-null endpoint v of the directed
        edges (s, d), in ONE pass: each edge explodes into (v=s, o=1)
        and (v=d, o=0), so one groupBy counts both directions over one
        edge read and one exchange (two separate degree groupBys re-run
        the upstream edge derivation per consumer, see
        OPTIMIZATION_r14.md). A vertex absent from a column has 0 there.
        Null endpoints are dropped: no equi-join ever matches them."""
        return (
            edges.select(
                F.explode(
                    F.array(
                        F.struct(F.col("s").alias("v"), F.lit(1).alias("o")),
                        F.struct(F.col("d").alias("v"), F.lit(0).alias("o")),
                    )
                ).alias("e")
            )
            .filter(F.col("e.v").isNotNull())
            .groupBy(F.col("e.v").alias("v"))
            .agg(
                F.sum("e.o").alias("outd"),
                F.sum(1 - F.col("e.o")).alias("ind"),
            )
        )

    def two_hop_count(self) -> DataFrame:
        """Directed 2-path count e1.d == e2.s (Q-G2 / B9), computed as
        Σ_v indeg(v)·outdeg(v): every 2-path is exactly one choice of
        (in-edge, out-edge) at its mid vertex, so the edge-set
        SELF-JOIN — which materializes every 2-path row just to count
        it (the path stream can be orders of magnitude larger than the
        edge set at 100 TB) — collapses to ONE degree aggregation plus
        a scalar sum. Equal to `two_hop_count_join`, null endpoints
        included (a null mid vertex never matches the join key)."""
        deg = self._in_out_degrees(self.edges)
        return deg.agg(
            F.coalesce(F.sum(F.col("ind") * F.col("outd")), F.lit(0))
            .cast("bigint")
            .alias("two_hop_count")
        )

    def two_hop_count_join(self) -> DataFrame:
        """The literal self-join form of two_hop_count (reference shape
        for the algebraic rewrite; exchange-reuse demo)."""
        e1, e2 = self.edges.alias("e1"), self.edges.alias("e2")
        return (
            e1.join(e2, F.col("e1.d") == F.col("e2.s"))
            .agg(F.count("*").alias("two_hop_count"))
        )

    @staticmethod
    def _triangles(e: DataFrame) -> DataFrame:
        """(a, b, c) for every wedge a→b→c closed by an edge a→c — on
        canonical s < d edges, each undirected triangle exactly once,
        a < b < c. Candidate wedges are bounded by per-vertex degree;
        the small closing probe joins last."""
        e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
        return (
            e1.join(e2, F.col("e1.d") == F.col("e2.s"))
            .join(
                e3,
                (F.col("e1.s") == F.col("e3.s"))
                & (F.col("e2.d") == F.col("e3.d")),
            )
            .select(
                F.col("e1.s").alias("a"),
                F.col("e1.d").alias("b"),
                F.col("e2.d").alias("c"),
            )
        )

    def triangle_count(self) -> DataFrame:
        """Triangles in canonical undirected edges: s < m < d closing
        edge (s, d).

        The edge frame is lazily cut first: without it each of the three
        join sides re-derives the whole upstream edge subplan (exchange
        reuse never fires across a lambda-bearing derivation, see
        OPTIMIZATION_r14.md); with it the first action materializes the
        edges once and all three sides read blocks."""
        e = self.edges.transform(self._cp_lazy)
        return self._triangles(e).agg(F.count("*").alias("triangle_count"))

    # Edge sets under this row count get broadcast hints in the
    # reduction joins (~128 MB of (long, long) pairs — comfortably
    # inside executor memory); above it the same plan falls back to
    # shuffled joins. The size test is a driver-side count the
    # iterative callers are already paying for convergence checks.
    BROADCAST_EDGE_LIMIT = 8_000_000

    def _bc(self, broadcast_edges: bool | None) -> bool:
        if broadcast_edges is None:
            # cache per Graph instance: callers invoking several
            # reduction ops on one (possibly un-checkpointed) edge
            # plan must not pay a full re-materializing count() each
            # time (review finding, round 2)
            n = getattr(self, "_n_edges", None)
            if n is None:
                n = self.edges.count()
                object.__setattr__(self, "_n_edges", n)
            return n < self.BROADCAST_EDGE_LIMIT
        return broadcast_edges

    def _two_paths(self) -> DataFrame:
        e1, e2 = self.edges.alias("e1"), self.edges.alias("e2")
        return (
            e1.join(e2, F.col("e1.d") == F.col("e2.s"))
            .select(F.col("e1.s").alias("s"), F.col("e2.d").alias("d"))
        )

    def transitive_edges(self, broadcast_edges: bool | None = None) -> DataFrame:
        """Edges (a, c) for which a 2-path a→b→c also exists — the
        removal set of one transitive-reduction round.

        Join shape (the 100 TB-relevant choice): the 2-path stream is
        Σ_v in(v)·out(v) rows — far bigger than the edge set — so it is
        semi-joined AGAINST the edges (small side broadcast when under
        BROADCAST_EDGE_LIMIT) instead of ever being shuffled whole:
        measured 3-6× faster at sf0.1 than the shuffle-the-paths plan.
        """
        e = self.edges
        tgt = F.broadcast(e) if self._bc(broadcast_edges) else e
        return (
            self._two_paths().join(tgt, ["s", "d"], "left_semi").distinct()
        )

    def transitive_reduction_round(
        self, broadcast_edges: bool | None = None
    ) -> DataFrame:
        """Surviving edges after removing one round of transitive edges.
        Two-step shape: removal = 2-paths ∩ edges (bounded by |E|),
        then a cheap anti-join of edges against the removal set — the
        huge 2-path stream is never the shuffle payload (see
        `transitive_edges`)."""
        bc = self._bc(broadcast_edges)
        removal = self.transitive_edges(broadcast_edges=bc)
        rem = F.broadcast(removal) if bc else removal
        return self.edges.join(rem, ["s", "d"], "left_anti")

    def tips(self, hub_degree: int = 3) -> DataFrame:
        """Dead-end vertices: degree-1 vertices whose sole neighbor has
        degree >= hub_degree (assembly tip-trimming shape).

        Single-aggregation shape (r14): a degree-1 vertex appears in
        the (v, nbr) end list exactly once, so min(nbr) over its group
        IS its sole neighbor — one groupBy over the exploded ends
        yields degree AND neighbor together. The old form derived the
        ends union twice (once for degrees, once to look the neighbor
        back up) and shuffled the full end list a second time through
        the d1⋈ends join: per trim round that was 4 edge-block reads
        and an ends-sized join exchange; now it is 2 reads, one
        exchange, and two vertex-sized (broadcast-able) filters. Tip
        set identical: degree and sole-neighbor are computed over the
        same multiset the join consumed.

        The explicit null filter is load-bearing twice over: it
        reproduces the old form's null semantics exactly (its inner
        join on v dropped null-v rows, its semi join dropped null-nbr
        rows — aggregate filters alone would keep a null-v group),
        and it keeps the aggregate's two consumers' pushed predicates
        identical. Even so, COLUMN PRUNING diverges the two subtrees
        (the hub side drops min(nbr)), so Catalyst/AQE never reuse the
        exchange — the vertex-sized aggregate is therefore cut with a
        lazy checkpoint: the caller's first action over the tip set
        materializes it once and both consumers read the same blocks
        (O(V) block traffic replacing a second O(E) ends
        derivation+exchange)."""
        # (v, nbr) ends are _sym_edges renamed — ONE derivation of the
        # upstream edge subplan instead of one per union branch (r14;
        # in the reduce/assembly loops the edges are checkpointed, so
        # this also halves the per-round block re-reads)
        ends = self._sym_edges().select(
            F.col("s").alias("v"), F.col("d").alias("nbr")
        ).filter(F.col("v").isNotNull() & F.col("nbr").isNotNull())
        deg_nbr = ends.groupBy("v").agg(
            F.count("*").alias("degree"), F.min("nbr").alias("nbr")
        ).transform(self._cp_lazy)
        d1 = deg_nbr.filter(F.col("degree") == 1).select("v", "nbr")
        hub = deg_nbr.filter(F.col("degree") >= hub_degree).select(
            F.col("v").alias("nbr")
        )
        return d1.join(hub, "nbr", "left_semi").select("v")

    def bubble_pairs(self, min_mids: int = 2) -> DataFrame:
        """(u, w) endpoint pairs joined by >= min_mids distinct internal
        vertices via 2-paths u→x→w — the bubble-detection shape.

        One-shot op (the loops use _bubble_removals): the edge frame is
        lazily cut first so the 2-path self-join's two sides read one
        materialized edge set instead of re-deriving the upstream
        subplan per side (r14, the triangle_count treatment)."""
        e = self.edges.transform(self._cp_lazy)
        e1, e2 = e.alias("e1"), e.alias("e2")
        two_paths = (
            e1.join(e2, F.col("e1.d") == F.col("e2.s"))
            .select(
                F.col("e1.s").alias("u"),
                F.col("e1.d").alias("x"),
                F.col("e2.d").alias("w"),
            )
        )
        return (
            two_paths.groupBy("u", "w")
            .agg(F.countDistinct("x").alias("n_mids"))
            .filter(F.col("n_mids") >= min_mids)
        )

    # ---- fixpoint --------------------------------------------------------

    def _min_label(
        self, edges: DataFrame, labels: DataFrame, max_iter: int, loop: str
    ) -> tuple[DataFrame, int]:
        """Min-label propagation to fixpoint along the DIRECTED edges
        (s, d): each round component(v) = least(component(v), min over
        in-neighbors' components). `labels` is (v, component); returns
        (labels, rounds) or raises FixpointError after `max_iter`
        rounds. Each round is one join + one min-aggregate, lazily cut.

        Convergence: labels only DECREASE, so for integral ids an equal
        exact decimal(38,0) label mass ⟺ no label changed — one
        aggregate scan per round (it also materializes the lazy cut),
        and decimal(38) cannot wrap on huge ids. The cast is lossless
        only for integral types: fractional ids could move by less than
        the rounding and fake a fixpoint, so they — and string ids —
        use the exact old-vs-new comparison join."""
        ctype = labels.schema["component"].dataType
        integral = isinstance(
            ctype, (ByteType, ShortType, IntegerType, LongType)
        ) or (isinstance(ctype, DecimalType) and ctype.scale == 0)

        def mass(lab):
            return lab.agg(
                F.sum(F.col("component").cast("decimal(38,0)"))
            ).collect()[0][0]

        m = mass(labels) if integral else None
        for rounds in range(1, max_iter + 1):
            nbr_min = (
                edges.join(labels, edges.s == labels.v)
                .groupBy(F.col("d").alias("v"))
                .agg(F.min("component").alias("nbr_component"))
            )
            new = (
                labels.join(nbr_min, "v", "left")
                .select(
                    "v",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("nbr_component"), F.col("component")),
                    ).alias("component"),
                )
                .transform(self._cp_lazy)
            )
            if integral:
                m, m_old = mass(new), m
                done = m == m_old
            else:
                done = (
                    new.alias("n")
                    .join(labels.alias("o"), "v")
                    .filter(F.col("n.component") != F.col("o.component"))
                    .count()
                    == 0
                )
            labels = new
            if done:
                return labels, rounds
        raise FixpointError(loop, max_iter, "rounds are O(diameter)")

    def connected_components(
        self, max_iter: int = 50, stats: dict | None = None
    ) -> DataFrame:
        """Min-label propagation to fixpoint → (v, component) with
        component = min vertex id in the component (order-free, hence
        deterministic). O(diameter) rounds, and raises FixpointError
        when `max_iter` rounds do not reach the fixpoint — see
        `connected_components_twophase` for the O(log n) contraction
        variant. `stats` records {"rounds": k}.

        The edge subplan is derived exactly once: `_sym_edges` builds
        both orientations in one pass, and labels come from the
        checkpointed sym blocks (every vertex appears as sym.s), so the
        labels distinct reuses sym's hashpartitioning(s)."""
        sym = self._sym_edges().repartition("s").transform(self._cp_lazy)
        labels = (
            sym.select(F.col("s").alias("v"))
            .distinct()
            .select(F.col("v"), F.col("v").alias("component"))
            .transform(self._cp_lazy)
        )
        labels, rounds = self._min_label(
            sym, labels, max_iter, "connected_components"
        )
        if stats is not None:
            stats["rounds"] = rounds
        return labels

    def connected_components_twophase(
        self, max_iter: int = 30, stats: dict | None = None
    ) -> DataFrame:
        """Connected components by alternating large-star / small-star
        contraction (the O(log n)-round MapReduce CC construction,
        Kiveris et al., "Connected Components in MapReduce and
        Beyond") → (v, component), component = min vertex id.

        Each round is two groupBy+join passes over edges kept oriented
        big→small; round count is O(log n) regardless of graph
        DIAMETER — the property min-label propagation
        (`connected_components`, O(diameter) rounds) lacks on long
        chains. On low-diameter graphs min-label is the faster kernel
        (fewer passes per round). Same output contract, same qg4
        oracle; raises FixpointError when `max_iter` rounds do not
        reach the star forest. `stats` (if given) records
        {"rounds": k} for the round-count comparison.
        """
        verts = self.vertex_ids().transform(self._cp_lazy)
        e = (
            self.edges.select("s", "d")
            .filter(F.col("s") != F.col("d"))
            .select(
                F.greatest("s", "d").alias("u"), F.least("s", "d").alias("v")
            )
            .distinct()
            .transform(self._cp_lazy)
        )
        rounds = 0
        converged = False

        def _edge_sig_n(df):
            # order-insensitive exact-decimal sum of per-edge hashes:
            # equal signatures make set equality overwhelmingly likely,
            # and the ONE exact subtract below confirms it — one
            # aggregate scan per round plus one confirm at the fixpoint
            # instead of a per-round set difference (SCALE.md). The
            # count rides the same aggregate, whose job also
            # materializes the round's lazy checkpoint.
            row = df.agg(
                F.count(F.lit(1)),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            ).collect()[0]
            return row[0], row[1]

        n_prev, sig = _edge_sig_n(e)
        for _ in range(max_iter):
            # large-star: every neighbor v > u links to min(Γ(u) ∪ {u})
            sym = e.select("u", "v").union(
                e.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            m = (
                sym.groupBy("u")
                .agg(F.min("v").alias("mv"))
                .select("u", F.least("u", "mv").alias("m"))
            )
            e1 = (
                sym.join(m, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .distinct()
            )
            # small-star: edges already orient u > v; all smaller
            # neighbors (and u) link to the minimum
            m2 = e1.groupBy("u").agg(F.min("v").alias("m"))
            e2 = (
                e1.join(m2, "u")
                .filter(F.col("v") != F.col("m"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(m2.select("u", F.col("m").alias("v")))
                .distinct()
                .transform(self._cp_lazy)
            )
            rounds += 1
            n2, sig2 = _edge_sig_n(e2)
            if (
                n2 == n_prev
                and sig2 == sig
                and e2.subtract(e).isEmpty()  # exact confirm, runs once
            ):
                e = e2
                converged = True
                break
            e = e2
            sig, n_prev = sig2, n2
        if stats is not None:
            stats["rounds"] = rounds
        if not converged:
            raise FixpointError(
                "connected_components_twophase", max_iter,
                "star forest not reached; rounds are O(log n)",
            )
        # at fixpoint e is a star forest: (vertex, component-min) pairs
        labels = e.groupBy("u").agg(F.min("v").alias("component")).select(
            F.col("u").alias("v"), "component"
        )
        roots = verts.join(
            labels.select("v"), "v", "left_anti"
        ).select("v", F.col("v").alias("component"))
        return labels.union(roots)

    def bfs_hops(self, sources: DataFrame, max_hops: int = 10) -> DataFrame:
        """Multi-source BFS over the undirected graph → (v, hop) with
        hop = min #edges from any source (≤ max_hops). Frontier
        iteration: each round is one join + one anti-join, frontier
        checkpointed to cut lineage; rounds = graph diameter."""
        sym = self._sym_edges().transform(self._cp)
        dist = sources.select(F.col("v"), F.lit(0).alias("hop")).transform(self._cp)
        frontier = dist.select("v")
        for h in range(1, max_hops + 1):
            nxt = (
                frontier.join(sym, frontier.v == sym.s)
                .select(F.col("d").alias("v"))
                .distinct()
                .join(dist.select("v"), "v", "left_anti")
                .transform(self._cp)
            )
            if nxt.isEmpty():
                break
            dist = dist.union(
                nxt.select("v", F.lit(h).alias("hop"))
            ).transform(self._cp)
            frontier = nxt
        return dist

    def reduce_pipeline(
        self,
        max_iter: int = 5,
        hub_degree: int = 3,
        stats: dict | None = None,
    ) -> DataFrame:
        """The SORA-shaped overlap-reduction loop: alternately remove
        transitive edges and trim tips until a fixpoint (or max_iter).
        Returns the surviving edge set. Each round = two bounded join
        passes + a checkpoint; the convergence count() is the
        per-round barrier (SURVEY §3.4). `stats` (if given) records
        {"rounds": k, "edge_counts": [n0, n1, ...]}.

        The 2-path transitive-removal join — the loop's dominant cost —
        runs ONLY in round 1: removal can destroy 2-paths but never
        create one, so a set with no transitive edges stays transitive-
        free under any further edge removal (if (A,C) plus a surviving
        2-path A→B→C existed after round 1, all three edges survived
        FROM round 1's input, where (A,C) was therefore transitive and
        removed — contradiction). Rounds >= 2 are pure tip-trims, and
        the unrolled oracles (which re-apply the transitive stage every
        round) still match exactly because that stage is the identity
        from round 2 on — which is also why `max_iter=2` is exactly two
        unrolled reduction rounds (qg11). Measurements: see
        OPTIMIZATION_r14.md."""
        edges = self.edges.transform(self._cp_lazy)
        prev = edges.count()
        # rejected: flooring the edge blocks at the core count — every
        # extra task re-deserializes the edge-sized broadcast, so task
        # CPU doubled (see OPTIMIZATION_r15.md)
        counts = [prev]
        rounds = 0
        for it in range(max_iter):
            g = Graph(edges, reliable_checkpoint_dir=self.reliable_checkpoint_dir)
            # seed the broadcast gate with the count the loop already
            # paid for — a fresh Graph would otherwise re-count the
            # checkpointed edge set (one redundant job per round)
            object.__setattr__(g, "_n_edges", prev)
            if it == 0:
                # checkpoint the reduced edges BEFORE the tip trim: the
                # trim plan references this subplan several times (edge
                # stream + degree/tip derivation), and only the input
                # exchanges — not the 2-path semi-join itself — get
                # ReusedExchange'd, so without the cut the round's
                # heaviest join runs 3-4x. Lazy cut: the tips count job
                # below materializes it (block-level locks serialize
                # concurrent first readers), saving the separate
                # materialize pass.
                reduced = g.transitive_reduction_round().transform(self._cp_lazy)
            else:
                reduced = edges
            # tips-first convergence: the tip set is degree-1-bounded
            # and TINY, so materialize it once — when it is empty the
            # trim is the identity, so the round's anti-join + full
            # edge-set checkpoint + count are skipped AND no no-op
            # confirm round is needed; `rounds`/`edge_counts` stop at
            # the detection round.
            tips = (
                Graph(reduced,
                      reliable_checkpoint_dir=self.reliable_checkpoint_dir)
                .tips(hub_degree=hub_degree)
                .transform(self._cp_lazy)
            )
            rounds += 1
            if tips.count() == 0:
                edges = reduced
                counts.append(edges.count() if it == 0 else prev)
                break
            edges = self._trim_with_tips(
                reduced, tips, g._bc(None)
            ).transform(self._cp_lazy)
            n = edges.count()
            # nudge the driver GC so py4j refs to the PREVIOUS round's
            # checkpointed blocks release promptly — otherwise the
            # ContextCleaner drops them at arbitrary times mid-run,
            # which showed up as ~20% run-to-run bench variance
            gc.collect()
            counts.append(n)
            if n == prev:
                break
            prev = n
        if stats is not None:
            stats["rounds"] = rounds
            stats["edge_counts"] = counts
        return edges

    @staticmethod
    def _trim_with_tips(edges: DataFrame, tips: DataFrame, bc: bool) -> DataFrame:
        """Remove edges touching a tip vertex. The tip set is bounded by
        the degree-1 vertex count, far under the edge count, so under
        the broadcast gate BOTH anti-joins are broadcast hash joins in
        one whole-stage-codegen pass over the edges — the per-round
        trim never shuffles the edge set."""
        t = F.broadcast(tips) if bc else tips
        return (
            edges.join(t.withColumnRenamed("v", "s"), "s", "left_anti")
            .join(t.withColumnRenamed("v", "d"), "d", "left_anti")
            .select("s", "d")
        )

    def pop_bubbles_round(
        self, min_mids: int = 2, broadcast_edges: bool | None = None
    ) -> DataFrame:
        """One bubble-pop round: for every bubble pair (u, w) joined by
        >= min_mids distinct internal vertices x via 2-paths u→x→w,
        keep the path through the MINIMUM mid (order-free, hence
        deterministic) and remove the edges (u, x), (x, w) of every
        other mid. Returns the surviving edge set.

        Monotone — only removes edges — so the fixpoint can be
        certified by an unrolled-SQL oracle exactly like the reduction
        loop (qg11b trick). Scale shape mirrors `transitive_edges`:
        the 2-path stream is derived ONCE and aggregated straight to
        the doomed-mid set (see `_bubble_removals`), the removal set
        is bounded by bubble-pair count << |E| and is broadcast into
        the final anti-join, so the edge set itself never shuffles."""
        bc = self._bc(broadcast_edges)
        removal = self._bubble_removals(min_mids)
        rem = F.broadcast(removal) if bc else removal
        return self.edges.join(rem, ["s", "d"], "left_anti")

    def _bubble_removals(self, min_mids: int) -> DataFrame:
        """The edge-removal set of one bubble-pop round (see
        `pop_bubbles_round`) — bounded by bubble-pair count << |E|,
        so callers can materialize it to TEST for convergence before
        paying the edge-set anti-join (the assembly loop does).

        Single-derivation shape (r14, the tips()/band-keys finding):
        the 2-path stream — the round's dominant cost — is derived
        ONCE and aggregated straight to the doomed-mid set via
        collect_set: per (u, w), mids = the distinct x set, keep =
        array_min(mids), doomed = explode(mids \\ keep). The old form
        aggregated tp to (u, w, keep) and then RE-DERIVED tp to probe
        it against that table — the Σ in(v)·out(v) join ran once per
        consumer (the aggregation plus each union branch; only the
        input exchanges get reused). Per-row memory is one distinct-
        mid set per bubble pair — linear in min(out(u), in(w)), the
        same bound the old countDistinct paid inside its aggregation
        buffer, never the k²/2 pair expansion rejected for qd5. The
        doomed set is lazily cut (bubble-bounded, tiny) so the union's
        two branches read blocks instead of re-aggregating.

        The explicit null filter reproduces the old tp⋈bub probe
        join's key semantics bit-exactly: a null u or w never matched
        the (u, w) join key, so those 2-paths produced no removals;
        x is a join key (e1.d = e2.s) and can never be null."""
        e1, e2 = self.edges.alias("e1"), self.edges.alias("e2")
        doomed = (
            e1.join(e2, F.col("e1.d") == F.col("e2.s"))
            .select(
                F.col("e1.s").alias("u"),
                F.col("e1.d").alias("x"),
                F.col("e2.d").alias("w"),
            )
            .filter(F.col("u").isNotNull() & F.col("w").isNotNull())
            .groupBy("u", "w")
            .agg(F.collect_set("x").alias("mids"))
            .filter(F.size("mids") >= min_mids)
            .select(
                "u",
                "w",
                F.explode(
                    F.array_remove(F.col("mids"), F.array_min(F.col("mids")))
                ).alias("x"),
            )
            .transform(self._cp_lazy)
        )
        return (
            doomed.select(F.col("u").alias("s"), F.col("x").alias("d"))
            .union(doomed.select(F.col("x").alias("s"), F.col("w").alias("d")))
            .distinct()
        )

    def assembly_pipeline(
        self,
        max_iter: int = 5,
        hub_degree: int = 3,
        min_mids: int = 2,
        stats: dict | None = None,
    ) -> DataFrame:
        """The FULL SORA assembly reduction (SURVEY §0.3 steps 2-4 as
        staged fixpoints): (a) transitive-reduction + tip-trim loop to
        fixpoint (`reduce_pipeline`), then (b) bubble-pop loop to
        fixpoint. Returns the surviving edge set; compaction (step 5)
        runs on the result via `chain_edges` + `compact_chains`
        (qg17). Both stages only REMOVE edges, so an unrolled-SQL
        oracle with unroll >= rounds-to-fixpoint is exactly the
        fixpoint (qg11b argument, extended). Each bubble round is
        checkpointed and ends in the count() convergence barrier;
        `stats` records reduce/bubble round counts and edge counts."""
        rstats: dict = {}
        edges = self.reduce_pipeline(
            max_iter=max_iter, hub_degree=hub_degree, stats=rstats
        )
        prev = rstats["edge_counts"][-1]
        counts = list(rstats["edge_counts"])
        bubble_rounds = 0
        for _ in range(max_iter):
            g = Graph(edges, reliable_checkpoint_dir=self.reliable_checkpoint_dir)
            # seed the broadcast gate (see reduce_pipeline) — `prev`
            # is exactly this round's edge count
            object.__setattr__(g, "_n_edges", prev)
            # removal-first convergence (same trick as the tips-first
            # reduce loop): the removal set is bubble-bounded — when
            # empty, skip the anti-join + full-edge checkpoint AND the
            # legacy no-op confirm round
            removal = g._bubble_removals(min_mids).transform(self._cp_lazy)
            bubble_rounds += 1
            if removal.count() == 0:
                counts.append(prev)
                break
            edges = edges.join(
                F.broadcast(removal) if g._bc(None) else removal,
                ["s", "d"],
                "left_anti",
            ).transform(self._cp_lazy)
            n = edges.count()
            gc.collect()  # release prior round's checkpoint blocks
            counts.append(n)
            if n == prev:
                break
            prev = n
        if stats is not None:
            stats["reduce_rounds"] = rstats["rounds"]
            stats["bubble_rounds"] = bubble_rounds
            stats["edge_counts"] = counts
        return edges

    def chain_edges(self) -> DataFrame:
        """The non-branching (unitig-able) subgraph: directed edges
        (s, d) where s has out-degree 1 and d has in-degree 1. Every
        vertex then has <= 1 outgoing and <= 1 incoming chain edge, so
        the result is a union of simple paths — the precondition
        `compact_chains` needs.

        Degrees come from the one-pass `_in_out_degrees`; the
        vertex-sized degree table is lazily cut because column pruning
        diverges its two consumers and so defeats exchange reuse (the
        `tips` finding), and both semi-joins filter it."""
        deg = self._in_out_degrees(self.edges).transform(self._cp_lazy)
        out1 = deg.filter(F.col("outd") == 1).select(F.col("v").alias("s"))
        in1 = deg.filter(F.col("ind") == 1).select(F.col("v").alias("d"))
        return (
            self.edges.join(out1, "s", "left_semi")
            .join(in1, "d", "left_semi")
            .select("s", "d")
        )

    def k_core(self, k: int = 2, max_iter: int = 50) -> DataFrame:
        """Vertices of the k-core (maximal subgraph where every vertex
        has degree ≥ k, undirected) → (v,). Iterative peeling: drop
        sub-k vertices, recompute degrees, repeat to fixpoint — each
        round is one groupBy + two semi-joins on a checkpointed,
        shrinking edge set; rounds bounded by peeling depth. Raises
        FixpointError when `max_iter` rounds are still peeling (a
        partial peel is NOT a k-core)."""
        e = self._sym_edges().distinct().transform(self._cp)
        for _ in range(max_iter):
            deg = e.groupBy("s").agg(F.count("*").alias("_deg"))
            # change-set-first convergence (SCALE.md): peel only when
            # sub-k vertices EXIST — the drop set is vertex-bounded and
            # cheap to test, the skipped work is two semi-joins plus a
            # full edge checkpoint on the final (no-op) round
            drop = deg.filter(F.col("_deg") < k).select("s").transform(self._cp)
            if drop.count() == 0:
                return e.select(F.col("s").alias("v")).distinct()
            keep = deg.filter(F.col("_deg") >= k).select("s")
            e = (
                e.join(keep, "s", "left_semi")
                .join(keep.withColumnRenamed("s", "d"), "d", "left_semi")
                .select("s", "d")
                .transform(self._cp)
            )
        raise FixpointError("k_core", max_iter, "still peeling")

    def maximal_matching(
        self, max_iter: int = 30, stats: dict | None = None
    ) -> DataFrame:
        """Deterministic MAXIMAL matching of the undirected edge set →
        (x, y) matched pairs, x < y — the graph-coarsening primitive
        (multilevel partitioning, pair-merging dedup).

        Hash-salted mutual-proposal rounds (the Israeli–Itai shape
        made deterministic): each round every unmatched vertex
        proposes to its incident neighbor minimizing
        (md5(round:s:d), neighbor); mutual proposals match, matched
        vertices leave, repeat until no edges remain. The per-ROUND
        salt is the point — static min-neighbor proposals form long
        proposal chains that match one pair per round, while re-salting
        each round breaks chains and converges in O(log) rounds. Each
        round: one edge-hash projection (map-side), one argmin groupBy,
        one self-join of the vertex-sized proposal table, two
        anti-joins on the shrinking edge set. Progress is guaranteed: the
        globally-minimal-hash edge is mutual every round. Maximality:
        the loop only stops when the residual edge set is empty, and
        raises FixpointError if edges remain after `max_iter` rounds."""
        e = (
            self.edges.select(
                F.least("s", "d").alias("s"), F.greatest("s", "d").alias("d")
            )
            .filter(F.col("s") != F.col("d"))
            .distinct()
            .transform(self._cp)
        )
        out: DataFrame | None = None
        rounds = 0
        for r in range(1, max_iter + 1):
            rounds = r
            if e.isEmpty():
                rounds = r - 1
                break
            ph = F.md5(
                F.concat_ws(
                    ":",
                    F.lit(str(r)),
                    F.col("s").cast("string"),
                    F.col("d").cast("string"),
                )
            )
            # explode emits both orientations around ONE md5 per edge
            # and one scan of the checkpointed edge blocks
            sym = e.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("s").alias("v"), F.col("d").alias("u")
                        ),
                        F.struct(
                            F.col("d").alias("v"), F.col("s").alias("u")
                        ),
                    )
                ).alias("p"),
                ph.alias("ph"),
            ).select("p.v", "p.u", "ph")
            cand = (
                sym.groupBy("v")
                .agg(F.min(F.struct("ph", "u")).alias("p"))
                .select("v", F.col("p.u").alias("u"))
            )
            a, b = cand.alias("a"), cand.alias("b")
            newm = (
                a.join(
                    b,
                    (F.col("a.u") == F.col("b.v"))
                    & (F.col("b.u") == F.col("a.v")),
                )
                .filter(F.col("a.v") < F.col("a.u"))
                .select(
                    F.col("a.v").alias("x"), F.col("a.u").alias("y")
                )
                .transform(self._cp)
            )
            out = newm if out is None else out.unionByName(newm)
            out = out.transform(self._cp)
            mv = newm.select(F.col("x").alias("v")).union(
                newm.select(F.col("y").alias("v"))
            )
            e = (
                e.join(mv.withColumnRenamed("v", "s"), "s", "left_anti")
                .join(mv.withColumnRenamed("v", "d"), "d", "left_anti")
                .select("s", "d")
                .transform(self._cp)
            )
        else:
            # The for/else fires when the loop ran all max_iter rounds;
            # the matching is still complete if the last round emptied
            # the edge set (emptiness is only polled at round top).
            if not e.isEmpty():
                raise FixpointError(
                    "maximal_matching", max_iter, "edges remain"
                )
        if stats is not None:
            stats["rounds"] = rounds
        if out is None:
            return e.select(
                F.col("s").alias("x"), F.col("d").alias("y")
            ).limit(0)
        return out

    def strongly_connected_components(
        self, max_iter: int = 30, stats: dict | None = None
    ) -> DataFrame:
        """SCCs of the DIRECTED edge set → (v, component), component =
        min vertex id in the SCC (order-free ⇒ deterministic). The
        directed sibling of connected_components — the dataflow SCC
        algorithm (trim + forward/backward min-label peel), since
        Tarjan's stack does not distribute:

        per outer round: (a) TRIM — vertices with zero remaining
        in-degree or out-degree are singleton SCCs by definition; peel
        them repeatedly (this alone dissolves all DAG-shaped regions,
        one topological level per pass); (b) PROPAGATE — F(v) = min
        vertex that reaches v (min-label to fixpoint along edges),
        B(v) = min vertex v reaches (same along reversed edges);
        (c) PEEL — F(v) == B(v) == m ⟺ m reaches v and v reaches m ⟺
        v ∈ SCC(m): assign and remove. Every peeled set is a union of
        COMPLETE SCCs (soundness), and the SCC of each region's
        minimal vertex always peels (progress), so outer rounds are
        bounded by the SCC condensation depth, not |V|. Inner fixpoints
        are the CC kernel (`_min_label`) on the checkpointed shrinking
        edge set, each with a `4 * max_iter` round budget. Raises
        FixpointError when an inner propagation or the outer peel does
        not converge. `stats` records {"rounds": outer+trim round
        count}."""
        edges = self.edges.select("s", "d").filter(
            F.col("s") != F.col("d")
        ).distinct().transform(self._cp)
        remaining = self.vertex_ids().transform(self._cp)
        done: DataFrame | None = None
        rounds = 0

        def _emit(part):
            nonlocal done
            done = part if done is None else done.unionByName(part)
            done = done.transform(self._cp)

        for _ in range(max_iter):
            # (a) trim loop: no-in or no-out vertices are singleton SCCs
            while True:
                rounds += 1
                # core = vertices with BOTH an in- and an out-edge, in
                # one pass over the checkpointed edges
                core = (
                    self._in_out_degrees(edges)
                    .filter((F.col("outd") > 0) & (F.col("ind") > 0))
                    .select("v")
                    .transform(self._cp)
                )
                triv = remaining.join(core, "v", "left_anti")
                if triv.isEmpty():
                    break
                _emit(triv.select("v", F.col("v").alias("component")))
                remaining = core
                edges = (
                    edges.join(core, edges.s == core.v, "left_semi")
                    .join(core.withColumnRenamed("v", "d"), "d", "left_semi")
                    .select("s", "d")
                    .transform(self._cp)
                )
                if remaining.isEmpty():
                    break
            if remaining.isEmpty():
                break
            # (b) forward / backward min labels
            labels = remaining.select("v", F.col("v").alias("component"))
            rev = edges.select(
                F.col("d").alias("s"), F.col("s").alias("d")
            )
            fwd, _ = self._min_label(
                edges, labels, 4 * max_iter, "strongly_connected_components"
            )
            bwd, _ = self._min_label(
                rev, labels, 4 * max_iter, "strongly_connected_components"
            )
            lab = fwd.withColumnRenamed("component", "f").join(
                bwd.withColumnRenamed("component", "b"), "v"
            )
            # (c) peel complete SCCs
            peel = lab.filter(F.col("f") == F.col("b")).select(
                "v", F.col("f").alias("component")
            ).transform(self._cp)
            _emit(peel)
            remaining = remaining.join(peel, "v", "left_anti").transform(self._cp)
            if remaining.isEmpty():
                break
            edges = (
                edges.join(peel, edges.s == peel.v, "left_anti")
                .join(peel.withColumnRenamed("v", "d"), "d", "left_anti")
                .select("s", "d")
                .transform(self._cp)
            )
        else:
            raise FixpointError(
                "strongly_connected_components", max_iter,
                "outer peel rounds",
            )
        if stats is not None:
            stats["rounds"] = rounds
        return done

    def k_truss(
        self, k: int = 5, max_iter: int = 30, stats: dict | None = None
    ) -> DataFrame:
        """Edges of the k-truss (maximal subgraph where every edge is
        supported by ≥ k−2 triangles WITHIN the subgraph, undirected)
        → (s, d, support), canonical s < d. The edge-density analog of
        k-core: cores bound degree, trusses bound cohesion — the
        standard community-detection tightening.

        Iterative support peeling: per round, enumerate canonical
        a<b<c triangles on the surviving edge set (`_triangles`),
        charge each triangle to its three edges, drop edges with
        support < k−2, repeat to fixpoint. Change-set-first convergence
        like k_core: when the drop set is empty the scored set is
        returned without another peel. Rounds are bounded by peeling
        depth; raises FixpointError when `max_iter` rounds are still
        peeling (a partial peel is NOT a k-truss). `stats` records
        {"rounds": k}."""
        e = (
            self.edges.select(
                F.least("s", "d").alias("s"), F.greatest("s", "d").alias("d")
            )
            .distinct()
            .transform(self._cp)
        )
        rounds = 0

        def _support(cur):
            # exploding each triangle into its three edges charges them
            # over ONE triangle join (a union of three projections
            # would run the join — the round's dominant cost — thrice)
            per_edge = self._triangles(cur).select(
                F.explode(
                    F.array(
                        F.struct(F.col("a").alias("s"), F.col("b").alias("d")),
                        F.struct(F.col("b").alias("s"), F.col("c").alias("d")),
                        F.struct(F.col("a").alias("s"), F.col("c").alias("d")),
                    )
                ).alias("e")
            ).select("e.s", "e.d")
            return per_edge.groupBy("s", "d").agg(
                F.count("*").alias("support")
            )

        for _ in range(max_iter):
            sup = _support(e)
            scored = e.join(sup, ["s", "d"], "left").select(
                "s", "d", F.coalesce("support", F.lit(0)).alias("support")
            ).transform(self._cp)
            rounds += 1
            drop = scored.filter(F.col("support") < k - 2)
            if drop.isEmpty():
                if stats is not None:
                    stats["rounds"] = rounds
                return scored
            e = scored.filter(F.col("support") >= k - 2).select(
                "s", "d"
            ).transform(self._cp)
        raise FixpointError("k_truss", max_iter, "still peeling")

    def _power_iterate(self, verts, edges, out_deg, ranks, n_iter, update_fn):
        """Shared PageRank-family round loop: each round is one join
        (rank → out-edges) + one destination-sum groupBy, dangling mass
        riding as a broadcast 1-row aggregate, a checkpoint per
        round keeping the plan flat. `update_fn(dmass, contrib)`
        builds the new rank column — the ONLY thing that differs
        between uniform-teleport PageRank and seed-teleport PPR.
        Callers own the float op ORDER inside update_fn: the oracle
        hashes depend on it."""
        for _ in range(n_iter):
            with_deg = ranks.join(
                out_deg, ranks.v == out_deg.s, "left"
            ).select(ranks.v, "rank", "_od")
            # mass of vertices with no out-edges, as a 1-row frame —
            # broadcast into the update instead of collected
            dangling = with_deg.filter(F.col("_od").isNull()).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dmass")
            )
            contrib = (
                edges.join(
                    with_deg.filter(F.col("_od").isNotNull()),
                    edges.s == with_deg.v,
                )
                .select(
                    F.col("d").alias("v"),
                    (F.col("rank") / F.col("_od")).alias("c"),
                )
                .groupBy("v")
                .agg(F.sum("c").alias("c"))
            )
            ranks = (
                verts.join(contrib, "v", "left")
                .crossJoin(F.broadcast(dangling))
                .select(
                    "v",
                    update_fn(
                        F.col("_dmass"), F.coalesce("c", F.lit(0.0))
                    ).alias("rank"),
                )
                .transform(self._cp)
            )
        return ranks

    def pagerank(
        self,
        n_iter: int = 10,
        damping: float = 0.85,
        stats: dict | None = None,
    ) -> DataFrame:
        """Power-iteration PageRank over the DIRECTED edge set →
        (v, rank), ranks summing to |V| (the classic normalization).
        Dangling-vertex mass is redistributed uniformly each round.

        Each round is one join (rank → out-edges) + one groupBy (sum
        contributions at the destination) — the standard two-shuffle
        PageRank dataflow; `localCheckpoint` per round keeps the plan
        flat. Dangling mass rides the same round as a broadcast 1-row
        aggregate (cross-join), so each round is exactly ONE action
        (the ranks checkpoint) — no separate driver-side scalar job."""
        # checkpoint the edge set and degree table once so the per-round
        # action never re-evaluates the full edge derivation; verts come
        # from the CHECKPOINTED blocks (one upstream derivation total —
        # the old vertex_ids()-first order paid a second one, r14)
        edges = self.edges.select("s", "d").transform(self._cp)
        verts = (
            edges.select(F.explode(F.array("s", "d")).alias("v"))
            .distinct()
            .transform(self._cp)
        )
        n_v = verts.count()
        out_deg = edges.groupBy("s").agg(
            F.count("*").alias("_od")
        ).transform(self._cp)
        ranks = verts.select("v", F.lit(1.0).alias("rank")).transform(self._cp)

        # same float op order as the collected-scalar form:
        # ((1-d) + (d*D)/n) + d*c — keeps qg14's hash stable
        def update(dmass, contrib):
            base = (
                F.lit(1.0 - damping)
                + (F.lit(damping) * dmass) / F.lit(float(n_v))
            )
            return base + F.lit(damping) * contrib

        ranks = self._power_iterate(
            verts, edges, out_deg, ranks, n_iter, update
        )
        if stats is not None:
            stats["rounds"] = n_iter
        return ranks

    def personalized_pagerank(
        self,
        seeds: list,
        n_iter: int = 10,
        damping: float = 0.85,
    ) -> DataFrame:
        """Personalized PageRank: the teleport vector concentrates on
        `seeds` (uniform over the seed set) instead of all vertices —
        r_{i+1}(v) = (1-d)·s(v) + d·(dangling·s(v) + Σ_in r_i(u)/od(u)),
        s(v) = 1/|S| on seeds, 0 elsewhere. Dangling mass teleports to
        the seeds too (the standard PPR convention), so total mass
        stays 1. The recommendation / similarity-from-a-source
        primitive; same two-shuffle round dataflow as `pagerank`, with
        the seed indicator broadcast into the update (the seed list is
        user-supplied and tiny by definition). Duplicate seed ids are
        deduplicated (each DISTINCT seed gets 1/|S|); a seed absent
        from the graph is a loud ValueError — its teleport share would
        otherwise silently vanish (ranks exist only for graph
        vertices), breaking the mass invariant."""
        seeds = sorted(set(seeds))
        if not seeds:
            raise ValueError(
                "personalized_pagerank: seeds must be non-empty"
            )
        # edges first, verts from the CHECKPOINTED blocks — one
        # upstream derivation instead of two (r14, the pagerank order)
        edges = self.edges.select("s", "d").transform(self._cp)
        verts = (
            edges.select(F.explode(F.array("s", "d")).alias("v"))
            .distinct()
            .transform(self._cp)
        )
        present = {
            r.v
            for r in verts.filter(F.col("v").isin(list(seeds))).collect()
        }
        missing = [x for x in seeds if x not in present]
        if missing:
            raise ValueError(
                f"personalized_pagerank: seeds not in graph: {missing!r}"
            )
        out_deg = edges.groupBy("s").agg(
            F.count("*").alias("_od")
        ).transform(self._cp)
        n_s = float(len(seeds))
        seed_ind = F.when(
            F.col("v").isin(list(seeds)), F.lit(1.0 / n_s)
        ).otherwise(F.lit(0.0))
        ranks = verts.select("v", seed_ind.alias("rank")).transform(self._cp)

        # float op order fixed for the oracle hash:
        # s(v)*((1-d) + d*D) + d*c
        def update(dmass, contrib):
            return (
                seed_ind
                * (F.lit(1.0 - damping) + F.lit(damping) * dmass)
                + F.lit(damping) * contrib
            )

        return self._power_iterate(
            verts, edges, out_deg, ranks, n_iter, update
        )

    def shortest_paths(
        self,
        sources: DataFrame,
        weight_col: str | None = None,
        max_iter: int = 20,
    ) -> DataFrame:
        """Single/multi-source shortest path over DIRECTED edges →
        (v, dist): Bellman-Ford as iterative relaxation. `weight_col`
        names a non-negative edge weight (default: every edge = 1.0,
        i.e. weighted BFS). Converges when no distance improves —
        checked with one count() per round; each round is one join +
        one min-aggregation, checkpointed. Raises FixpointError if
        max_iter rounds still improve distances (a silent truncation
        would return plausible but incomplete/non-minimal rows)."""
        w = (
            F.col(weight_col)
            if weight_col is not None
            else F.lit(1.0)
        )
        e = self.edges.select("s", "d", w.cast("double").alias("_w"))
        dist = sources.select(
            F.col("v"), F.lit(0.0).alias("dist")
        ).transform(self._cp)
        for _ in range(max_iter):
            cand = (
                e.join(dist, e.s == dist.v)
                .select(F.col("d").alias("v"), (F.col("dist") + F.col("_w")).alias("dist"))
                .union(dist)
                .groupBy("v")
                .agg(F.min("dist").alias("dist"))
                .transform(self._cp)
            )
            improved = (
                cand.alias("c")
                .join(dist.alias("p"), "v", "left")
                .filter(
                    F.col("p.dist").isNull() | (F.col("c.dist") < F.col("p.dist"))
                )
                .count()
            )
            dist = cand
            if improved == 0:
                return dist
        raise FixpointError(
            "shortest_paths", max_iter,
            "still improving; a path graph needs up to |V|-1 rounds",
        )

    def compact_chains(
        self,
        max_iter: int = 30,
        with_paths: bool = False,
        stats: dict | None = None,
    ) -> DataFrame:
        """Compact maximal non-branching chains (unitigs) by pointer
        doubling → (start, end, length) [+ path]. Requires a
        chain-union graph (every vertex in/out-degree ≤ 1); path
        lengths double each round, so convergence is O(log
        longest-chain) shuffles instead of O(length) — the difference
        that matters at 100 TB.

        `with_paths=True` additionally carries the merged vertex label
        ('-'-joined ids, the assembly analog of concatenating read
        sequences into the unitig): each row's label covers [v..end),
        so doubling is plain label concatenation and the final path
        appends `end`. Label bytes double per round alongside dist —
        at genome scale this is the expected output size (the contigs
        themselves), not overhead.
        """
        lab0 = (
            [F.concat(F.col("s").cast("string"), F.lit("-")).alias("lab")]
            if with_paths
            else []
        )
        p = self.edges.select(
            F.col("s").alias("v"),
            F.col("d").alias("end"),
            F.lit(1).alias("dist"),
            *lab0,
        ).transform(self._cp_lazy)
        rounds = 0
        for _ in range(max_iter):
            rounds += 1
            a, b = p.alias("a"), p.alias("b")
            lab = (
                [
                    F.concat(
                        F.col("a.lab"), F.coalesce(F.col("b.lab"), F.lit(""))
                    ).alias("lab")
                ]
                if with_paths
                else []
            )
            p = (
                a.join(b, F.col("a.end") == F.col("b.v"), "left")
                .select(
                    F.col("a.v").alias("v"),
                    F.coalesce(F.col("b.end"), F.col("a.end")).alias("end"),
                    (
                        F.col("a.dist") + F.coalesce(F.col("b.dist"), F.lit(0))
                    ).alias("dist"),
                    *lab,
                )
                .transform(self._cp_lazy)
            )
            # the convergence agg materializes the lazy cut — one job
            # per doubling round instead of two (r14). Cap-based test
            # (r14, saves the confirm round the old sum-compare always
            # paid): after k rounds dist = min(chain length from v,
            # 2^k) (induction: a capped row's successor contributes
            # min(L - 2^(k-1), 2^(k-1))), so max(dist) < 2^k means no
            # row hit the cap — every chain already reached its end
            # and the NEXT round would be the identity the old form
            # ran just to see the total repeat. A cycle (in/out degree
            # 1 everywhere, no chain end) pins max(dist) == 2^k
            # forever and runs to max_iter, exactly like the old
            # always-growing total; cycle rows drop at the `starts`
            # semi-join either way.
            mx = p.agg(F.max("dist")).collect()[0][0]
            if mx is None or mx < (1 << rounds):
                break
        if stats is not None:
            stats["rounds"] = rounds
        starts = self.edges.select(F.col("s").alias("v")).subtract(
            self.edges.select(F.col("d").alias("v"))
        )
        path = (
            [F.concat(F.col("lab"), F.col("end").cast("string")).alias("path")]
            if with_paths
            else []
        )
        return (
            p.join(starts, "v", "left_semi")
            .select(
                F.col("v").alias("start"),
                "end",
                F.col("dist").alias("length"),
                *path,
            )
        )

    def component_size_histogram(
        self, max_iter: int = 50, method: str = "minlabel"
    ) -> DataFrame:
        if method == "twophase":
            comp = self.connected_components_twophase(max_iter=max_iter)
        elif method == "minlabel":
            comp = self.connected_components(max_iter=max_iter)
        else:
            raise ValueError(
                f"component_size_histogram: unknown method {method!r}"
                " (expected 'minlabel' or 'twophase')"
            )
        sizes = comp.groupBy("component").agg(F.count("*").alias("component_size"))
        return sizes.groupBy("component_size").agg(F.count("*").alias("n_components"))

    def label_propagation(self, n_rounds: int = 2) -> DataFrame:
        """Synchronous label propagation (community detection) for a
        FIXED number of rounds → (v, lab). Deterministic by contract:
        each round every vertex simultaneously adopts the most frequent
        label among its distinct-neighbor set, ties broken by the
        smallest label (sync LPA can oscillate on bipartite structure,
        so the declared semantics is round-count, not convergence —
        callers wanting a fixpoint compare successive rounds).

        Per round: one equi-join edges⋈labels (shuffle on the label
        key), one (v, lab) count aggregation, one per-vertex window for
        the argmax — all partitioned by vertex, no driver data motion.
        localCheckpoint per round cuts the lineage (SURVEY §4.3).
        """
        from pyspark.sql.window import Window

        # one derivation (r14): _sym_edges + labels drawn from the
        # CHECKPOINTED sym blocks (every vertex appears as sym.s) —
        # the old union + vertex_ids() pair ran the upstream edge
        # derivation four times before round 1 (the qg4 finding)
        sym = (
            self._sym_edges()
            .distinct()
            .repartition("d")
            .transform(self._cp)
        )
        labels = (
            sym.select(F.col("s").alias("v"))
            .distinct()
            .select("v", F.col("v").alias("lab"))
            .transform(self._cp)
        )
        w = Window.partitionBy("v").orderBy(F.desc("cnt"), F.asc("lab"))
        for _ in range(n_rounds):
            counts = (
                sym.join(labels, sym.d == labels.v)
                .groupBy(sym.s.alias("v"), "lab")
                .agg(F.count("*").alias("cnt"))
            )
            adopted = (
                counts.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("v", "lab")
            )
            # isolated vertices (possible under subclassing/filters)
            # keep their current label
            labels = (
                labels.select("v", F.col("lab").alias("_old"))
                .join(adopted, "v", "left")
                .select(
                    "v", F.coalesce(F.col("lab"), F.col("_old")).alias("lab")
                )
                .transform(self._cp)
            )
        return labels

    def topological_levels(
        self,
        max_iter: int = 200,
        stats: dict | None = None,
        block: int = 4,
    ) -> DataFrame:
        """Kahn-peel topological levels over a DIRECTED ACYCLIC edge
        set → (v, level), level = LONGEST path from any source (a
        vertex peels only once all predecessors have peeled). Raises
        ValueError on a cycle — a partial level assignment is not a
        topological order — and FixpointError when the depth exceeds
        `max_iter`. Rounds = DAG depth (structural, not data-sized: the
        overlap graph's depth is reads-per-document, flat across sf —
        SCALE.md).

        Per peel, the zero-in-degree frame is consumed three times
        (emit, edge anti-join, vertex anti-join) so it IS checkpointed
        every peel; the two big frames (remaining edges / unemitted
        vertices) are only checkpointed every `block` peels — their
        within-block lineage is a short anti-join chain over already-
        materialized zero frames, so nothing recomputes. This split
        beats both the checkpoint-everything form (driver-job bound)
        and the fully-lazy form (which recomputed each peel's
        anti-join three times). Peels past
        exhaustion inside a block emit empty frames — harmless, and
        the block boundary re-checks convergence/cycle exactly as
        before."""
        remaining = self.edges.select("s", "d").transform(self._cp)
        # verts from the CHECKPOINTED blocks (remaining is the
        # unfiltered edge set, so its endpoints ARE the vertex set) —
        # one upstream derivation instead of two
        verts = (
            remaining.select(F.explode(F.array("s", "d")).alias("v"))
            .distinct()
            .transform(self._cp)
        )
        out: DataFrame | None = None
        level = 0
        while level < max_iter:
            block_out: DataFrame | None = None
            for _ in range(min(block, max_iter - level)):
                targets = remaining.select(F.col("d").alias("v")).distinct()
                zero = verts.join(targets, "v", "left_anti").transform(self._cp)
                lv = zero.select("v", F.lit(level).alias("level"))
                block_out = (
                    lv if block_out is None else block_out.unionByName(lv)
                )
                remaining = remaining.join(
                    zero.withColumnRenamed("v", "s"), "s", "left_anti"
                )
                verts = verts.join(zero, "v", "left_anti")
                level += 1
            block_out = block_out.transform(self._cp)
            remaining = remaining.transform(self._cp)
            verts = verts.transform(self._cp)
            emitted = block_out.count()
            out = (
                block_out
                if out is None
                else out.unionByName(block_out)
            )
            if emitted == 0 or verts.count() == 0:
                if remaining.count() > 0 and emitted == 0:
                    raise ValueError(
                        "topological_levels: cycle detected — "
                        f"{remaining.count()} edges undissolvable"
                    )
                if stats is not None:
                    # level is rounded up to the block boundary; the
                    # true depth is the deepest emitted level + 1, and
                    # 0 for an empty graph (max(level) is NULL then)
                    deepest = out.agg(F.max("level")).collect()[0][0]
                    stats["depth"] = (
                        (deepest + 1) if deepest is not None else 0
                    )
                return out
        raise FixpointError("topological_levels", max_iter, "depth exceeds it")

    def local_clustering(self) -> DataFrame:
        """Per-vertex local clustering coefficient → (v, degree, coef):
        coef = 2·triangles(v) / (deg·(deg−1)), 0.0 for degree < 2 —
        the per-vertex density signal behind community/spam structure
        analysis. Triangles are enumerated once on canonical (s<m<d)
        edges (`_triangles`) and charged to all three corners via one
        explode; degrees reuse the symmetric count. Two equi-join
        shuffles + two groupBys, candidate wedges bounded by per-vertex
        degree exactly like the 2-hop operator.
        """
        # lazy cut: the three triangle-join sides + degrees() would
        # otherwise each re-derive the full upstream edge subplan;
        # with the cut everything reads one materialized edge set
        e = self.edges.transform(self._cp_lazy)
        g = Graph(e, reliable_checkpoint_dir=self.reliable_checkpoint_dir)
        per_v = (
            self._triangles(e).select(
                F.explode(F.array("a", "b", "c")).alias("v")
            )
            .groupBy("v")
            .agg(F.count("*").alias("t"))
        )
        return (
            g.degrees()
            .join(per_v, "v", "left")
            .select(
                "v",
                "degree",
                F.when(
                    F.col("degree") < 2, F.lit(0.0)
                )
                .otherwise(
                    2.0
                    * F.coalesce(F.col("t"), F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1))
                )
                .alias("coef"),
            )
        )

    def minimum_spanning_forest(
        self,
        weight_col: str = "w",
        max_iter: int = 30,
        stats: dict | None = None,
    ) -> DataFrame:
        """Minimum spanning forest by Borůvka rounds → (s, d, w): each
        round EVERY component picks its minimum outgoing edge under
        the (w, s, d) total order (the tie-break makes the MSF unique
        even with duplicate weights — equivalent to Kruskal under the
        same order, which is what the property test checks), chosen
        edges join the forest, and touched components contract.
        O(log V) rounds since components at least halve; per round two
        comp-label joins + one min_by aggregation, with the
        contraction itself a component-GRAPH-sized CC (second-order
        small). The standard scalable MST: no global edge sort, no
        union-find, every step a join or aggregation. Raises
        FixpointError when `max_iter` rounds still choose edges."""
        e = self.edges.select(
            F.least("s", "d").alias("s"),
            F.greatest("s", "d").alias("d"),
            F.col(weight_col).alias("w"),
        ).transform(self._cp)
        # comp from the CHECKPOINTED canonical edges: least/greatest
        # keeps every endpoint (self-loops fold to (x, x)), so the
        # exploded ends are exactly the vertex set — one upstream
        # derivation instead of two
        comp = (
            e.select(F.explode(F.array("s", "d")).alias("v"))
            .distinct()
            .select("v", F.col("v").alias("c"))
            .transform(self._cp)
        )
        forest: DataFrame | None = None
        rounds = 0
        for _ in range(max_iter):
            cs = comp.select(F.col("v").alias("s"), F.col("c").alias("cs"))
            cd = comp.select(F.col("v").alias("d"), F.col("c").alias("cd"))
            lab = (
                e.join(cs, "s")
                .join(cd, "d")
                .filter(F.col("cs") != F.col("cd"))
            )
            pick = F.struct("w", "s", "d", "cs", "cd")
            cand = lab.select(F.col("cs").alias("cc"), pick.alias("p")).union(
                lab.select(F.col("cd").alias("cc"), pick.alias("p"))
            )
            chosen = (
                cand.groupBy("cc")
                .agg(F.min("p").alias("p"))
                .select("p.s", "p.d", "p.w", "p.cs", "p.cd")
                .distinct()
                .transform(self._cp)
            )
            rounds += 1
            n_chosen = chosen.count()
            if n_chosen == 0:
                break
            picked = chosen.select("s", "d", "w")
            forest = (
                picked
                if forest is None
                else forest.unionByName(picked).distinct()
            )
            forest = forest.transform(self._cp)
            # contract: CC over the (cs, cd) merge graph — component-
            # count sized, shrinks >= 2x per round. Its n_chosen edges
            # bound its diameter, so n_chosen + 1 min-label rounds
            # (the last one confirming) always reach the fixpoint
            merge = Graph(
                chosen.select(
                    F.col("cs").alias("s"), F.col("cd").alias("d")
                ),
                reliable_checkpoint_dir=self.reliable_checkpoint_dir,
            ).connected_components(max_iter=n_chosen + 1)
            comp = (
                comp.join(
                    merge.select(
                        F.col("v").alias("c"), F.col("component").alias("_nc")
                    ),
                    "c",
                    "left",
                )
                .select(
                    "v", F.coalesce(F.col("_nc"), F.col("c")).alias("c")
                )
                .transform(self._cp)
            )
        else:
            raise FixpointError(
                "minimum_spanning_forest", max_iter, "still choosing edges"
            )
        if stats is not None:
            stats["rounds"] = rounds
        if forest is None:
            return e.limit(0)
        return forest
