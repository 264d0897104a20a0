"""Streaming SOURCE over the commit-log table (Python DataSource API,
Spark 4): `spark.readStream.format("commitlog").load(path)` turns the
table's append history into micro-batches — the Delta-streaming-source
shape, closing the loop with the exactly-once sink (commit_log.
exactly_once_sink): table → readStream → transform → exactly-once sink
→ table is an end-to-end exactly-once pipeline over this format.

Offsets ARE table versions. A micro-batch (start, end] reads exactly
the data directories ADDED by versions start+1..end; because data
directories are immutable and the log is append-only, replaying any
offset range after a failure yields byte-identical rows — the
determinism Structured Streaming's offset-log replay contract needs,
with no extra bookkeeping.

Non-append commits (merge_upsert / delete / optimize) rewrite data, so
their added directories are NOT new rows. Exactly like Delta's source,
the default is to FAIL loudly on them; `option("skipChangeCommits",
"true")` streams past them (their rewrites are silently ignored —
appropriate for append-mostly fact streams where merges are
compactions of history the stream already saw). `option(
"startingVersion", N)` begins at version N instead of 1.

ADMISSION CONTROL (Delta's knobs): a large
backlog must not become one giant micro-batch. `option(
"maxVersionsPerTrigger", N)` admits at most N table versions per
batch; `option("maxBytesPerTrigger", B)` admits versions until their
added data files exceed B bytes (always at least one version, so an
oversized commit cannot starve the stream — Delta's soft-cap
semantics). Both cap `latestOffset` relative to the highest position
this reader has seen (seeded at startingVersion-1 — Spark calls
latestOffset BEFORE initialOffset on a fresh stream, so the seed is
what makes the FIRST batch of a backlog capped, the case the knob
exists for). After a checkpoint RESTART the reader re-learns its
true position from the restore call Spark issues before the first
latestOffset (partitions at the checkpointed position — measured),
so the caps count from the right base across restarts too. Byte
sizes come from a driver-side listing of the candidate versions'
added directories only (bounded by the backlog's file count, never
the table).

CHANGE DATA FEED (`option("readChangeFeed", "true")`): instead
of rows, the stream emits row-level CHANGES — appends flagged
'insert' straight from their data files, merge/delete/update commits
served from the cdc/ sidecars their writers materialized (tables
created with change_data_feed=True), optimize commits skipped as
layout-only, every row stamped `_commit_version`. The schema gains
(_change_type STRING, _commit_version BIGINT).

Scale posture: partition planning is driver-side and bounded by the
commit count + file count of the NEW versions only (never the table);
each part-file becomes one InputPartition, so a batch's read
parallelism equals its file count; rows travel as Arrow record
batches (pyarrow.parquet → Spark's arrow path, no per-row Python).
The local-filesystem listing mirrors the commit-log module's POSIX
contract; an object-store port swaps the listing calls.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from sora_spark.sources.commit_log import (
    _check_reader_features,
    _commit_path,
    table_versions,
)

_APPEND_OPS = {"create", "append", "txn_append", "clone"}
# "clone" is create-shaped for a STREAM: the clone commit is the
# destination table's first commit and its added directories ARE the
# initial rows (clone_table publishes at the source's version number,
# so the clamped default start lands exactly on it).
# commits that change NO rows (added=[] and no cdc by construction):
# constraint management and — when a stream legitimately spans them
# (startingVersion lands ON a mapping commit) — column-mapping DDL.
# Both stream as no-ops; mapping commits additionally carry
# schema_evolved so latestOffset still stops a RUNNING stream at them.
_METADATA_OPS = {
    "add_constraint", "drop_constraint", "rename_column", "drop_column",
}


class _FilePartition(InputPartition):
    def __init__(self, path: str, ctype: str | None = None,
                 version: int | None = None):
        self.path = path
        self.ctype = ctype      # CDF: literal _change_type, or None
        self.version = version  # CDF: _commit_version


def _read_commit(table_path: str, version: int) -> dict:
    # layout knowledge lives in commit_log; this module only folds it
    with open(_commit_path(table_path, version)) as f:
        return json.load(f)


def _resolve_start(options, path: str) -> int:
    """The stream's effective starting version from startingVersion /
    startingTimestamp (mutually exclusive), CLAMPED to the earliest
    commit the log actually has: a shallow clone's only commit is
    published at the SOURCE's version number (commit_log.clone_table
    — the ExistsDefault namespace invariant), so the default start=1
    must land on it rather than fail schema resolution; and a
    startingTimestamp before the first commit means 'from the
    beginning' (Delta's semantics), not an error. A timestamp names a
    SNAPSHOT (newest version at or before it, the version_as_of /
    table_changes rule) and the stream emits changes AFTER it.
    Timestamps are unix seconds, the engine-wide convention."""
    st = options.get("startingTimestamp")
    sv = options.get("startingVersion")
    if st is not None and sv is not None:
        raise ValueError(
            "pass startingVersion or startingTimestamp, not both"
        )
    vs = table_versions(path)
    earliest = vs[0] if vs else 1
    if st is not None:
        from sora_spark.sources.commit_log import version_as_of

        try:
            start = version_as_of(path, float(st)) + 1
        except ValueError:
            start = earliest
    else:
        start = int(sv) if sv is not None else 1
    return max(start, earliest)


def _mapping_asof(table_path: str, start: int):
    """(logical field names, {logical -> physical}) as of `start` —
    what a stream beginning there must project DATA FILES through:
    files carry PHYSICAL column names, the declared stream schema
    carries LOGICAL ones, and rename/drop commits INSIDE the streamed
    range cannot occur (they are schema_evolved-flagged, which stops
    the stream), so one mapping covers every emitted file. Returns
    ([], {}) for tables that never renamed/dropped — the fast path
    skips the projection entirely."""
    cmap: dict | None = None
    names: list[str] = []
    for v in table_versions(table_path):
        if v > start:
            break
        c = _read_commit(table_path, v)
        if "column_map" in c:
            cmap = dict(c["column_map"])
        if c.get("schema_json"):
            names = [
                f["name"] for f in json.loads(c["schema_json"])["fields"]
            ]
    if not cmap:
        return [], {}
    return names, cmap


def _gate_clone(path: str, entry: dict, version: int,
                logical: list[str], cmap: dict) -> None:
    """Refuse clone commits a FILE-LEVEL stream cannot replay
    faithfully. A clone folds the source's whole history into one
    commit, so three read-time projections the batch reader applies
    can be BAKED INTO its added list with no stream-side equivalent:

    1. live DELETION VECTORS (`dv_added`): the added files still
       contain DV-deleted rows — streaming them raw resurrects
       deletions as inserts (plain AND readChangeFeed paths), the
       exact silently-wrong-rows case the reader-feature gate exists to
       refuse (deletion_vectors is a KNOWN reader feature, so that
       gate alone passes it).
    2. ExistsDefault backfill (`exists_defaults`): rows whose
       directories predate the default's intro version read the
       frozen default via read_table but would stream as NULL.
    3. mixed-shape directories from a pre-clone schema evolution:
       pre-evolution files physically lack columns of the declared
       schema — the arrow select in read() would fail mid-batch.
       Detected with ONE parquet footer read per added directory
       (clone commits only, driver-side, bounded by the clone's
       directory count).

    In every case the fix is upstream: stream the SOURCE table (its
    per-version history replays exactly), or compact the clone first
    (compact materializes DVs, backfill, and the declared shape into
    plain directories). Refusing beats silently wrong data — the
    module-wide rule."""
    if entry.get("dv_added"):
        raise ValueError(
            f"commitlog source: version {version} is a clone carrying "
            "live deletion vectors; its added files still contain "
            "DV-deleted rows a file-level stream would resurrect as "
            "inserts. Stream the source table, or compact() the clone "
            "to materialize the deletes first — refusing to stream "
            "silently wrong data"
        )
    if entry.get("exists_defaults"):
        raise ValueError(
            f"commitlog source: version {version} is a clone carrying "
            "ExistsDefault backfill; pre-evolution rows would stream "
            "as NULL where reads return the frozen default. Stream "
            "the source table, or compact() the clone to materialize "
            "the backfill first — refusing to stream silently wrong "
            "data"
        )
    if entry.get("schema_json"):
        names = [
            f["name"] for f in json.loads(entry["schema_json"])["fields"]
        ]
    else:
        names = list(logical)
    if not names:
        return
    import pyarrow.parquet as pq

    expected = {cmap.get(n, n) for n in names}
    for rel in entry.get("added", []):
        files = sorted(glob.glob(os.path.join(
            glob.escape(os.path.join(path, rel)), "*.parquet")))
        if not files:
            continue
        have = set(pq.read_schema(files[0]).names)
        missing = sorted(expected - have)
        if missing:
            raise ValueError(
                f"commitlog source: version {version} is a clone whose "
                f"directory {rel!r} predates a schema evolution — its "
                f"files lack column(s) {missing} of the declared "
                "schema. Stream the source table, or compact() the "
                "clone to rewrite every directory to the declared "
                "shape first"
            )


class CommitLogStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("commitlog source requires a path")
        self.skip_changes = (
            str(options.get("skipChangeCommits", "false")).lower() == "true"
        )
        self.read_changes = (
            str(options.get("readChangeFeed", "false")).lower() == "true"
        )
        self.starting_version = _resolve_start(options, self.path)
        mv = options.get("maxVersionsPerTrigger")
        self.max_versions = int(mv) if mv is not None else None
        if self.max_versions is not None and self.max_versions < 1:
            raise ValueError("maxVersionsPerTrigger must be >= 1")
        mb = options.get("maxBytesPerTrigger")
        self.max_bytes = int(mb) if mb is not None else None
        if self.max_bytes is not None and self.max_bytes < 1:
            raise ValueError("maxBytesPerTrigger must be >= 1")
        # COLUMN MAPPING as of the starting version: data files carry
        # physical names; read() projects them to the declared logical
        # ones. Empty for never-renamed tables (projection skipped).
        self._logical, self._cmap = _mapping_asof(
            self.path, self.starting_version
        )
        # the highest table version this reader has seen planned or
        # committed — the base the admission caps count from AND the
        # duplicate-emission floor for partitions(). Seeded at
        # startingVersion-1 because Spark calls latestOffset before
        # initialOffset on a fresh stream (measured): without the
        # seed the first backlog batch would be uncapped — exactly the
        # batch the caps exist for.
        self._seen: int = self.starting_version - 1

    def initialOffset(self) -> dict:
        # offset = highest version already emitted; start BEFORE the
        # starting version so it is included in the first batch
        return {"version": self.starting_version - 1}

    def _version_bytes(self, version: int) -> int:
        """On-disk bytes of what THIS reader would emit for one
        version — added data files, plus cdc sidecars under
        readChangeFeed (a merge's change volume can dwarf its added
        files; counting only `added` would let a huge change commit
        blow through maxBytesPerTrigger unmetered). A listing of just
        that commit's directories (backlog-bounded)."""
        entry = _read_commit(self.path, version)
        if self.read_changes:
            # meter what the CDF reader actually emits: data files
            # for append-type commits, the cdc sidecar for change
            # commits (their `added` rewrites are never read here —
            # counting them would let one rewritten version eat the
            # whole byte budget)
            op = entry.get("operation")
            if op in _APPEND_OPS or op == "clone":
                rels = list(entry.get("added", []))
            else:
                rels = list(entry.get("cdc", []))
        else:
            rels = list(entry.get("added", []))
        total = 0
        for rel in rels:
            pat = os.path.join(
                glob.escape(os.path.join(self.path, rel)), "*.parquet"
            )
            for f in glob.glob(pat):
                total += os.path.getsize(f)
        return total

    def latestOffset(self) -> dict:
        vs = table_versions(self.path)
        if not vs:
            raise FileNotFoundError(
                f"commitlog source: no commit-log table at {self.path!r}"
            )
        # NEVER advance past a schema evolution: the stream's declared
        # schema was fixed at startingVersion, so the offset is capped
        # at the last pre-evolution version — everything before the
        # evolution is still delivered (a raise here would strand it),
        # the stream then idles, and a fresh checkpoint with
        # startingVersion >= the evolution picks up the new shape
        latest = vs[-1]
        for v in vs:
            if v <= self.starting_version:
                continue
            if _read_commit(self.path, v).get("schema_evolved"):
                latest = v - 1
                break
        base = self._seen
        if self.max_versions is None and self.max_bytes is None:
            return {"version": latest}
        # admission control: walk the backlog in version order, admit
        # at least one version, stop when the next would exceed a cap
        admitted, bytes_used, end = 0, 0, base
        for v in vs:
            if v <= base or v > latest:
                continue
            sz = self._version_bytes(v) if self.max_bytes is not None else 0
            if admitted >= 1 and (
                (self.max_versions is not None
                 and admitted >= self.max_versions)
                or (self.max_bytes is not None
                    and bytes_used + sz > self.max_bytes)
            ):
                break
            admitted += 1
            bytes_used += sz
            end = v
        return {"version": end}

    def partitions(self, start: dict, end: dict):
        start_v, end_v = int(start["version"]), int(end["version"])
        # every restarted stream begins with a restore call
        # partitions(C, C) at the checkpointed position (measured, this
        # Spark version — before any latestOffset), so _seen is correct
        # by the time the admission caps read it; a replay of an
        # uncommitted batch legitimately re-emits (start, end] verbatim
        self._seen = max(self._seen, start_v, end_v)
        parts: list[_FilePartition] = []
        for v in range(start_v + 1, end_v + 1):
            entry = _read_commit(self.path, v)
            if entry.get("schema_evolved") and v > self.starting_version:
                # SAFETY NET: latestOffset() never advances past a
                # post-start evolution, so a normal run cannot plan
                # this range — only a checkpoint that already spans
                # the evolution (written before the cap existed, or
                # against a different table) lands here. Rows after
                # the evolution would be silently truncated to the
                # stream's declared schema; refuse instead.
                # (An evolution AT startingVersion is fine: schema()
                # resolves <= start, so it IS the declared schema.)
                raise ValueError(
                    f"commitlog source: version {v} evolved the table "
                    "schema; restart the stream with a fresh checkpoint "
                    "(and a fresh sink) to pick up the new columns"
                )
            op = entry.get("operation")
            _check_reader_features(
                entry.get("reader_features", []),
                f"commitlog source: version {v}")
            if op == "clone":
                # clone-specific replayability gates (live DVs /
                # backfill / mixed-shape dirs) — both paths below
                # would emit the clone's added files raw
                _gate_clone(self.path, entry, v, self._logical,
                            self._cmap)
            if op in _METADATA_OPS:
                continue  # changes no rows; never an error to span
            if self.read_changes:
                # CHANGE DATA FEED (Delta CDF): appends stream
                # their added files flagged 'insert'; data-changing
                # commits stream the row-level cdc/ sidecar their
                # writer materialized; layout-only commits (optimize)
                # change nothing logically and are skipped
                if op in _APPEND_OPS or op == "clone":
                    rels, ctype = entry.get("added", []), "insert"
                elif entry.get("cdc"):
                    rels, ctype = entry["cdc"], None
                elif op == "optimize":
                    continue
                else:
                    raise ValueError(
                        f"commitlog source: version {v} ({op}) carries "
                        "no change data — readChangeFeed needs a table "
                        "created with change_data_feed=True (and cannot "
                        "stream past restore commits)"
                    )
                for rel in rels:
                    pat = os.path.join(
                        glob.escape(os.path.join(self.path, rel)),
                        "*.parquet",
                    )
                    for f in sorted(glob.glob(pat)):
                        parts.append(_FilePartition(f, ctype, v))
                continue
            if op not in _APPEND_OPS:
                if self.skip_changes:
                    continue
                raise ValueError(
                    f"commitlog source: version {v} is a data-changing "
                    f"commit ({op}); streaming reads require append-only "
                    "history — set skipChangeCommits=true to ignore "
                    "rewrites (Delta-source semantics)"
                )
            for rel in entry.get("added", []):
                for f in sorted(
                    glob.glob(
                        os.path.join(glob.escape(
                            os.path.join(self.path, rel)), "*.parquet")
                    )
                ):
                    parts.append(_FilePartition(f))
        # Spark requires >= 1 partition per batch; an empty range (or
        # an empty txn_append batch) still needs a planable no-op
        return parts or [_FilePartition("")]

    def read(self, partition: _FilePartition):
        if not partition.path:
            return iter(())
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(partition.path)
        # DATA files (plain batches, and CDF 'insert' partitions)
        # carry PHYSICAL column names — project to the declared
        # logical schema; cdc sidecars were written logically by
        # their commit and need none (renames inside the streamed
        # range are impossible: mapping commits stop the stream)
        if self._cmap and (
            partition.version is None or partition.ctype is not None
        ):
            t = t.select(
                [self._cmap.get(n, n) for n in self._logical]
            ).rename_columns(self._logical)
        if partition.version is None:
            return iter(t.to_batches())
        # CDF: data files carry the table columns; cdc sidecars also
        # carry _change_type — synthesize the missing feed columns so
        # every partition emits (table cols..., _change_type,
        # _commit_version) in the declared order
        n = t.num_rows
        if partition.ctype is not None:
            t = t.append_column(
                pa.field("_change_type", pa.string()),
                pa.array([partition.ctype] * n, pa.string()),
            )
        t = t.append_column(
            pa.field("_commit_version", pa.int64()),
            pa.array([partition.version] * n, pa.int64()),
        )
        return iter(t.to_batches())

    def commit(self, end: dict) -> None:
        # offsets live in Spark's checkpoint; nothing to reclaim —
        # just keep the admission-cap base current
        self._seen = max(self._seen, int(end["version"]))


class CommitLogDataSource(DataSource):
    """`format("commitlog")`: schema comes from the table's recorded
    schema as of startingVersion (the lossless schema_json parsed
    sessionlessly, simpleString DDL for pre-json commits), so readers
    never infer from data files."""

    @classmethod
    def name(cls) -> str:
        return "commitlog"

    def schema(self):
        path = self.options.get("path")
        if not path:
            raise ValueError("commitlog source requires a path")
        vs = table_versions(path)
        if not vs:
            raise FileNotFoundError(
                f"commitlog source: no commit-log table at {path!r}"
            )
        # the schema AS OF the resolved start (startingVersion OR
        # startingTimestamp — the SAME resolver the reader uses, so
        # the declared schema and the emitted batches can never
        # disagree about which mapping epoch they live in): every
        # version the stream can emit conforms to it, because a later
        # schema_evolved commit stops the stream (see partitions()).
        start = _resolve_start(self.options, path)
        entry = None
        for v in vs:
            if v > start:
                break
            c = _read_commit(path, v)
            _check_reader_features(
                c.get("reader_features", []),
                f"commitlog source: version {v} (before startingVersion)")
            if c.get("schema_json") or c.get("schema"):
                entry = c
        if entry is None:
            raise ValueError(
                f"commitlog source: table at {path!r} has no recorded "
                f"schema at or before version {start}"
            )
        cdf = (
            str(self.options.get("readChangeFeed", "false")).lower()
            == "true"
        )
        if entry.get("schema_json"):
            # lossless and SESSIONLESS (fromJson is pure Python) —
            # schema() runs in the datasource worker with no context
            st = StructType.fromJson(json.loads(entry["schema_json"]))
            if cdf:
                from pyspark.sql.types import (
                    LongType,
                    StringType,
                    StructField,
                )

                st = StructType(
                    st.fields
                    + [StructField("_change_type", StringType()),
                       StructField("_commit_version", LongType())]
                )
            return st
        # pre-json commits: return the simpleString DDL and let the
        # JVM parse the struct<...> form
        ddl = entry["schema"]
        if cdf and ddl.startswith("struct<") and ddl.endswith(">"):
            ddl = ddl[:-1] + ",_change_type:string,_commit_version:bigint>"
        return ddl

    def streamReader(self, schema: StructType) -> CommitLogStreamReader:
        return CommitLogStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(CommitLogDataSource)
