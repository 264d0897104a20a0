"""Engine facade — the user-facing entry points (SURVEY §3).

One object wires the whole stack together over a dataset root:

    eng = Engine.local()                     # or Engine(existing_spark)
    eng.attach("/root/testdata/sf0.01")
    eng.sql("SELECT count(*) FROM lineitem") # §3.2 SQL string
    eng.table("lineitem").filter(...)        # §3.3 DataFrame chain
    eng.graph_co()                           # §3.4 graph program
    eng.read_stream("events")                # §3.5 streaming

`attach` registers every fixture table as a temp view (including the
derived graph views e_co / e_seq), so the SQL surface covers the same
inventory the DataFrame API does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sora_spark.catalog import DEFAULT_SF_DIR, TABLE_NAMES, Tables
from sora_spark.graph import Graph, e_co, e_seq
from sora_spark.session import build_session, prepare_session
from sora_spark.streaming import replay


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = prepare_session(spark)
        self._tables: Tables | None = None
        self._sf_dir: str | None = None

    @classmethod
    def local(cls, **session_kwargs) -> "Engine":
        return cls(build_session(**session_kwargs))

    # ---- catalog --------------------------------------------------------

    def attach(self, sf_dir: str = DEFAULT_SF_DIR) -> "Engine":
        """Point the engine at a dataset root and register SQL views."""
        self._sf_dir = sf_dir
        self._tables = Tables(self.spark, sf_dir)
        self._tables.register_views()
        e_co(self._tables.lineitem).createOrReplaceTempView("e_co")
        e_seq(self._tables.events).createOrReplaceTempView("e_seq")
        return self

    def _require_attached(self) -> Tables:
        if self._tables is None:
            raise RuntimeError("call attach(sf_dir) first")
        return self._tables

    # ---- entry points ---------------------------------------------------

    def sql(self, query: str, args: dict | list | None = None) -> DataFrame:
        """SQL entry point over the attached views. `args` forwards to
        Spark's named-parameter binding (`spark.sql(query, args=...)`,
        markers like `:min_total`) — the injection-safe path a
        multi-tenant entry point must offer; qsub6 certifies that
        binding is value-identical to literal inlining."""
        self._require_attached()
        return self.spark.sql(query, args=args)

    def table(self, name: str) -> DataFrame:
        return self._require_attached().table(name)

    def tables(self) -> tuple[str, ...]:
        return TABLE_NAMES

    def graph_co(self) -> Graph:
        """Co-occurrence overlap graph (the SORA-shaped entry point)."""
        return Graph(e_co(self._require_attached().lineitem))

    def read_stream(self, name: str = "events", n_files: int = 4,
                    shuffled: bool = False) -> DataFrame:
        """Replay a fixture table as a micro-batched stream."""
        if name != "events":
            raise ValueError("streaming replay is defined for 'events'")
        assert self._sf_dir is not None
        d = replay.materialize_replay_dir(
            self.spark, self._sf_dir, f"engine-{name}", n_files, shuffled
        )
        return replay.events_stream(self.spark, d)

    # ---- assembly + curation (round-6 surface) --------------------------

    def assemble(self, bound: int | None = 500, stats: dict | None = None
                 ) -> DataFrame:
        """Run the FULL SORA assembly reduction (transitive+tips then
        bubble-pop, staged fixpoints — qg16) on the co-occurrence
        graph; `bound` restricts to the bounded subgraph (None = full).
        Returns the surviving edge set."""
        from sora_spark.graph.derive import e_co_small

        li = self._require_attached().lineitem
        edges = e_co(li) if bound is None else e_co_small(li, bound)
        return Graph(edges).assembly_pipeline(max_iter=10, stats=stats)

    def unitigs(self, bound: int | None = 500, with_paths: bool = False
                ) -> DataFrame:
        """Compact the assembly result's non-branching chains into
        unitigs (qg17/qg18) → (start, end, length[, path])."""
        edges = self.assemble(bound=bound)
        return Graph(Graph(edges).chain_edges()).compact_chains(
            with_paths=with_paths
        )

    def curate(self) -> DataFrame:
        """The composed curation pipeline (qpipe2): dedup →
        decontaminate → split → per-split report."""
        from sora_spark.queries.registry import REGISTRY

        assert self._sf_dir is not None
        return REGISTRY["qpipe2_curation_pipeline"].spark_fn(
            self.spark, self._sf_dir
        )

    # ---- read-derived assembly (round-6 overlap surface) ----------------

    def reads(self, read_len: int = 40, stride: int = 20) -> DataFrame:
        """Sliding-window read set over documents.text (qg19 input)."""
        from sora_spark.graph.overlap import derive_reads

        return derive_reads(
            self._require_attached().documents, read_len=read_len,
            stride=stride,
        )

    def overlap_graph(self, read_len: int = 40, stride: int = 20,
                      min_ovl: int = 20,
                      max_key_freq: int | None = None) -> Graph:
        """Overlap graph CONSTRUCTED from sequences (SURVEY §0.3 step 1
        / qg19): suffix-prefix k-mer equi-join over the derived reads,
        with optional repeat masking."""
        from sora_spark.graph.overlap import overlap_edges

        return Graph(overlap_edges(
            self.reads(read_len=read_len, stride=stride),
            read_len=read_len, min_ovl=min_ovl, max_key_freq=max_key_freq,
        ))

    def assemble_reads(self, stats: dict | None = None,
                       with_paths: bool = False) -> DataFrame:
        """Reads → contigs end-to-end (qg20): overlap join, reduce+tip
        and bubble fixpoints, unitig compaction."""
        edges = self.overlap_graph().assembly_pipeline(
            max_iter=10, stats=stats
        )
        return Graph(Graph(edges).chain_edges()).compact_chains(
            with_paths=with_paths
        )

    # ---- analytics surface (round-6 third-session operators) ------------

    def kmer_spectrum(self, k: int = 8) -> DataFrame:
        """Coverage histogram of documents.text k-mers (qg26)."""
        from sora_spark.graph.overlap import kmer_spectrum

        return kmer_spectrum(self._require_attached().documents, "text", k=k)

    def communities(self, n_rounds: int = 2) -> DataFrame:
        """Label-propagation communities on the bounded co-occurrence
        graph (qg25) → (v, lab)."""
        return self.graph_co().label_propagation(n_rounds=n_rounds)

    def funnel(self, stages: list[str]) -> DataFrame:
        """Ordered event funnel over the events table (qev1)."""
        from sora_spark.operators.events import funnel

        return funnel(self._require_attached().events, stages)

    def retention(self) -> DataFrame:
        """Retention-cohort triangle over the events table (qev2)."""
        from sora_spark.operators.events import retention

        return retention(self._require_attached().events)

    def profile(self, table: str) -> DataFrame:
        """Per-column data-quality profile of a fixture table (qprof1
        shape, any registered table)."""
        from sora_spark.operators.profile import profile_table

        return profile_table(self.table(table))
