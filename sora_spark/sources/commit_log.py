"""Snapshot-isolated table format: a JSON commit log over immutable
parquet data directories (the SURVEY §2.1/§2.9 upsert-sink family's
table lifecycle, in the Delta/Iceberg shape).

ON-DISK LAYOUT (paths relative to the table root):

- `_commits/%08d.json`: one commit per version. `_publish` writes it
  under a temp name and hard-links it to the final name; the link is
  atomic and fails if the version exists, so two writers can never
  both claim a version (the loser gets ConcurrentWriteError). This is
  optimistic concurrency for local/POSIX filesystems; an object store
  needs a conditional put (S3 if-none-match, GCS generation-match).
- `_commits/%08d.ckpt.json`: an optional log checkpoint
  (`checkpoint_log`), the folded state at that version. Current-state
  reads fold checkpoint + tail; history reads (time travel, history,
  table_changes, vacuum, restore) read the per-commit files, which are
  never deleted.
- `data/v%08d-<hex>`: immutable parquet data directories, named for
  the version that publishes them (a clustered compact registers its
  `_bucket=i` subdirectories as separate relpaths). No data file is
  modified or, outside `vacuum`, deleted: rewrites delist directories.
- `dv/v%08d-<hex>`: deletion-vector sidecars, parquet of
  `_DV_SCHEMA` (`_dv_file` table-relative file path, `_dv_row` row
  index in that file); the writer and every reader use that one
  declared schema, so no read infers it from a footer. A read
  anti-joins the live vectors with the directories they target;
  `compact` applies them physically and delists them.
- `cdc/v%08d-<hex>`: change-data-feed sidecars (table columns +
  `_change_type`), listed by data-changing commits on CDF tables.

COMMIT KEYS. Every commit carries `version`, `operation`, `added`,
`removed` (data relpaths) and `committed_at` (publish wall clock).
Optional keys: `stats` ({relpath: {physical column: {min, max, nulls,
allnull, bloom}}}, recorded by the commit that adds the directory),
`dv_added` / `dv_removed` (vector relpaths), `dv_rows` (rows in the
vectors the commit adds), `dv_targets` ({vector relpath: [data
relpaths its positions name]}, recorded by the commit that adds the
vector; clone, restore and checkpoint carry it for the vectors they
list), `cdc`, `pruned_dirs`, `schema_evolved`,
`merge_on_read`, `txn` ({app, version}), and per-operation provenance
(`restored_version`, `cloned_from`, `clustered_by`, `zorder`,
`renamed`, `dropped`, `small_only`, ...).

THE FOLD. The table at version V is the ordered fold of commits 1..V
(`_table_state`). Live directories and live vectors are the
added-minus-removed lists; a directory's stats are those its adding
commit recorded; `dv_rows` of the live vectors sums the count of every
commit while at least one vector it added is live (exact for
single-vector commits, an over-estimate for the multi-vector entries
clone, restore and checkpoint write). A live vector's targets are
those its adding commit recorded; the directories a read must
anti-join (its DIRTY set) are the union over live vectors, and a live
vector without a record (a log written before `dv_targets` existed)
makes every live directory dirty: correct, only less selective. Table
metadata folds by the rule `_META` declares for each key:

- latest commit carrying the key wins (an explicit null or empty
  value resets): `check`, `column_map`, `defaults`, `exists_defaults`,
  `generated`, `reserved_physical`;
- latest non-empty `schema` wins, together with that commit's
  `schema_json`;
- union: `reader_features`; a reader refuses a table that needs a
  feature outside `_KNOWN_READER_FEATURES`;
- first commit: `cdf`.

LOST RACES. Writers read the state, write new directories, and
publish at state version + 1. On a lost claim:

- appends (`append`, `txn_append`) rebase in place (`_publish_append`):
  re-read the log, re-gate the schema, re-validate the written
  directory when the CHECK/generated gate changed, rename it to the
  re-claimed version (the version in a directory name is what
  ExistsDefault backfill keys on) and publish again;
- data-changing writers (merge, delete, update; both physical
  strategies) classify every winner (`_publish_data_change`): changed
  latest-wins metadata, a delisted directory this change read, added
  deletion vectors, or added rows that overlap the change REFUSE with
  ConcurrentWriteError; otherwise the entry rebases in place;
- metadata commands (rename/drop column, add/drop CHECK) re-run their
  validation under `commit_with_retry`;
- `replace_where`, `compact`, `compact_small` and `restore_table`
  publish once and raise ConcurrentWriteError.

`commit_with_retry` re-runs a whole operation after a refusal.

READS. `read_table` resolves the live list once, so the returned
DataFrame stays pinned to its snapshot whatever commits land later.
Reads are ordinary parquet scans of the live directories with the
recorded schema applied (columns added by evolution read NULL in
older files), projected from physical to logical names through the
column map. MERGE, DELETE and UPDATE data-skip: recorded key-column
stats (and bloom filters) prune directories the batch or predicate
cannot touch, and directories without stats are treated as touched,
so pruning is always sound.

SEMANTIC NOTE on pruned MERGE: with pruning, rows in untouched
directories pass through unchanged (standard MERGE INTO semantics).
A full-table merge additionally deduplicates keys duplicated WITHIN
the current table (possible only after overlapping raw `append`s);
the two agree whenever the table is key-unique, which create+merge
lifecycles guarantee. Pass `prune=False` for the full-table dedup.
"""

from __future__ import annotations

import copy
import json
import os
import re
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

_COMMITS = "_commits"
_DATA = "data"
_DV = "dv"
_CDC = "cdc"
# a data DIRECTORY's table-relative relpath (a clustered compact's
# _bucket= subdirectory is its own relpath), and a data FILE's
_DIR_RE = r"(data/v\d{8}-[0-9a-f]+(?:/_bucket=\d+)?)"
_FILE_RE = _DIR_RE[:-1] + r"/[^/]+)$"
# the one schema of a deletion-vector sidecar, written and read
_DV_SCHEMA = "_dv_file STRING, _dv_row BIGINT"
# below this many live deleted positions the anti-join side is
# broadcast — a DV that outgrows it still works, it just shuffles
_DV_BROADCAST_ROWS = 10_000_000
# reader features this module honours (Delta's readerFeatures gate): a
# table whose log demands any other must refuse to read, because
# ignoring it returns wrong data silently (e.g. a reader that ignores
# deletion vectors resurrects deleted rows)
_KNOWN_READER_FEATURES = frozenset({"deletion_vectors", "column_mapping"})
# every table-metadata key with its fold rule (module docstring) and
# its value when no commit carries it
_META = {
    "check": ("latest", None),
    "column_map": ("latest", {}),
    "defaults": ("latest", {}),
    "exists_defaults": ("latest", {}),
    "generated": ("latest", {}),
    "reserved_physical": ("latest", []),
    "schema": ("schema", None),
    "schema_json": ("schema", None),
    "reader_features": ("union", []),
    "cdf": ("first", False),
}
# the keys a data change's delta is computed under (a concurrent change
# to any of them refuses its rebase) and that restore reverts
_LATEST_WINS = tuple(
    k for k, (rule, _empty) in _META.items() if rule in ("latest", "schema")
)


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this version first: re-read the table
    (your snapshot is stale) and retry the operation."""


class ConstraintViolationError(ValueError):
    """The batch contains rows that violate the table's CHECK
    constraint: nothing was committed (the written data directory is
    an unpublished orphan — invisible to readers, reclaimed by
    vacuum)."""


def _commit_path(path: str, version: int) -> str:
    return os.path.join(path, _COMMITS, f"{version:08d}.json")


def _load_commit(path: str, version: int) -> dict:
    with open(_commit_path(path, version)) as f:
        return json.load(f)


def table_versions(path: str) -> list[int]:
    """Committed versions, ascending. Non-commit files (tmp leftovers
    from a crashed publish) are ignored — an unpublished commit and
    its data directory are invisible by construction."""
    d = os.path.join(path, _COMMITS)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.endswith(".json") and f[:-5].isdigit():
            out.append(int(f[:-5]))
    return sorted(out)


def _read_commits(path: str, upto: int | None) -> list[dict]:
    versions = table_versions(path)
    if not versions:
        raise FileNotFoundError(f"no commit-log table at {path}")
    if upto is not None:
        if upto not in versions:
            raise ValueError(
                f"version {upto} not in table (have {versions})"
            )
        versions = [v for v in versions if v <= upto]
    return [_load_commit(path, v) for v in versions]


def _latest_checkpoint_version(path: str) -> int | None:
    """Newest `%08d.ckpt.json` log checkpoint, or None."""
    d = os.path.join(path, _COMMITS)
    if not os.path.isdir(d):
        return None
    best = None
    for f in os.listdir(d):
        if f.endswith(".ckpt.json") and f.split(".")[0].isdigit():
            v = int(f.split(".")[0])
            best = v if best is None or v > best else best
    return best


def _read_state_commits(path: str) -> list[dict]:
    """CURRENT-state commit list, checkpoint-accelerated: with a log
    checkpoint, [synthetic checkpoint commit] + the commits after it,
    so every state fold costs O(tail), not O(history). The synthetic
    commit is shaped like a real one (its `txn_watermarks` carries the
    per-app map latest_txn_version reads). Falls back to the full log
    when no checkpoint exists or it is unreadable."""
    cv = _latest_checkpoint_version(path)
    if cv is None:
        return _read_commits(path, None)
    try:
        with open(
            os.path.join(path, _COMMITS, f"{cv:08d}.ckpt.json")
        ) as f:
            state = json.load(f)
    except (OSError, ValueError):
        return _read_commits(path, None)
    synthetic = {
        "version": int(state["version"]),
        "operation": "checkpoint",
        "added": state.get("live", []),
        "removed": [],
        "dv_added": state.get("live_dvs", []),
        "dv_removed": [],
    }
    for k in (*_META, "stats", "dv_targets", "txn_watermarks",
              "committed_at"):
        if state.get(k):
            synthetic[k] = state[k]
    if state.get("live_dvs"):
        synthetic["dv_rows"] = int(state.get("dv_rows") or 0)
    # tail = only the commits AFTER the checkpoint; table_versions is a
    # single listdir, no per-commit file reads
    return [synthetic] + [
        _load_commit(path, v) for v in table_versions(path) if v > cv]


class _State(NamedTuple):
    """One fold of a commit list: the last version, the live data
    directories and live vectors (listing order), each live
    directory's recorded stats ({} when none), the recorded row count
    of the live vectors (None when a contributing commit recorded
    none), each live vector's recorded target directories (a vector
    without a record is absent), and every `_META` key folded by its
    rule."""

    version: int
    live: list
    dvs: list
    stats: dict
    dv_rows: int | None
    dv_targets: dict
    meta: dict


def _dv_rows(commits: list[dict], vectors: set) -> int | None:
    """Recorded rows of `vectors`: the `dv_rows` of every commit that
    added at least one of them, or None when such a commit recorded
    no count."""
    counts = [
        c.get("dv_rows") for c in commits
        if not vectors.isdisjoint(c.get("dv_added", ()))
    ]
    return None if None in counts else sum(int(n) for n in counts)


def _table_state(commits: list[dict]) -> _State:
    """THE fold of an ordered commit list (rules in the module
    docstring). Time travel passes a truncated list, so every fact
    resolves as of that version."""
    live: list[str] = []
    dvs: list[str] = []
    recorded: dict[str, dict] = {}
    targets: dict[str, list] = {}
    meta = {k: empty for k, (_rule, empty) in _META.items()}
    for c in commits:
        for r in c.get("removed", []):
            live.remove(r)
        live.extend(c.get("added", []))
        for r in c.get("dv_removed", []):
            dvs.remove(r)
        dvs.extend(c.get("dv_added", []))
        recorded.update(c.get("stats", {}))
        targets.update(c.get("dv_targets", {}))
        for k, (rule, _empty) in _META.items():
            if (rule == "latest" and k in c) or (
                    rule == "schema" and c.get("schema")):
                meta[k] = c.get(k)
            elif rule == "union":
                meta[k] = sorted(set(meta[k]).union(c.get(k, ())))
    for k, (rule, empty) in _META.items():
        if rule == "first":
            meta[k] = commits[0].get(k, empty)
    return _State(
        version=int(commits[-1]["version"]),
        live=live,
        dvs=dvs,
        stats={d: recorded.get(d, {}) for d in live},
        dv_rows=_dv_rows(commits, set(dvs)),
        dv_targets={v: targets[v] for v in dvs if v in targets},
        meta=copy.deepcopy(meta),
    )


def checkpoint_log(path: str) -> int:
    """Write a LOG CHECKPOINT: the folded current state (live
    directories + their stats, live deletion vectors + row count and
    targets, every `_META` key, per-app txn watermarks) lands in
    `_commits/%08d.ckpt.json`, and every later current-state resolve
    reads checkpoint + tail instead of the whole history (Delta's
    _last_checkpoint shape). The per-commit JSONs are kept;
    re-checkpointing supersedes by version. The write is tmp+rename
    atomic; a torn file is ignored by readers (full-fold fallback).
    Returns the checkpointed version. Cadence is the caller's."""
    commits = _read_commits(path, None)
    st = _table_state(commits)
    watermarks: dict[str, int] = {}
    for c in commits:
        t = c.get("txn")
        if t and t.get("app") is not None:
            v = int(t["version"])
            if watermarks.get(t["app"], v - 1) < v:
                watermarks[t["app"]] = v
    # empty folds are omitted: the synthetic commit REPLACES all
    # history at or before it, so "key absent" and "folded to empty"
    # read back identically
    state = {
        "version": st.version,
        "live": st.live,
        "live_dvs": st.dvs,
        "dv_rows": st.dv_rows or 0,
        "stats": {d: s for d, s in st.stats.items() if s},
        "committed_at": commits[-1].get("committed_at"),
        **{k: v for k, v in st.meta.items() if v},
    }
    if st.dv_targets:
        state["dv_targets"] = st.dv_targets
    if watermarks:
        state["txn_watermarks"] = watermarks
    final = os.path.join(
        path, _COMMITS, f"{state['version']:08d}.ckpt.json"
    )
    tmp = final + f".tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(state, f, sort_keys=True)
        f.write("\n")
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, final)
    return state["version"]


def _with_position(df: DataFrame) -> DataFrame:
    """Attach each row's physical address — table-relative file path
    (`_f`) and in-file row index (`_r`) — from the parquet scan's
    _metadata struct. Generated columns, zero extra I/O."""
    from pyspark.sql import functions as F

    return df.withColumn(
        "_f", F.regexp_extract(F.col("_metadata.file_path"), _FILE_RE, 1)
    ).withColumn("_r", F.col("_metadata.row_index"))


def _dv_relation(spark: SparkSession, path: str, st: _State):
    """The union of live deletion-vector sidecars as (_dv_file,
    _dv_row), read with the declared `_DV_SCHEMA` (no footer job),
    broadcast while their recorded row count is known and under
    _DV_BROADCAST_ROWS."""
    from pyspark.sql import functions as F

    dv = spark.read.schema(_DV_SCHEMA).parquet(
        *[os.path.join(path, d) for d in st.dvs])
    if st.dv_rows is not None and st.dv_rows <= _DV_BROADCAST_ROWS:
        dv = F.broadcast(dv)
    return dv


def _dirty_dirs(st: _State) -> set | None:
    """The data directories the live vectors target, from the log:
    the union of their recorded `dv_targets`, or None (every
    directory) when a live vector has no record."""
    if any(v not in st.dv_targets for v in st.dvs):
        return None
    return {d for v in st.dvs for d in st.dv_targets[v]}


def _read_live(
    spark: SparkSession,
    path: str,
    st: _State,
    dirs: list[str],
    schema,
    keep_position: bool = False,
) -> DataFrame:
    """DV-aware read of specific live directories, SPLIT by whether a
    live deletion vector targets them: CLEAN directories scan with no
    join in their subtree, DIRTY directories anti-join the vectors,
    and one unionByName stitches the two, so the read tax tracks the
    dirty data, not the table. The dirty set is read from the log:
    the union of the live vectors' recorded targets (`_dirty_dirs`),
    or every directory when a live vector has no record, so splitting
    runs no job, and a read with no dirty directory never opens a
    vector. With no live vectors this is a plain scan.

    COLUMN MAPPING: data files carry PHYSICAL names, so the scan uses
    the physical struct and one final projection aliases back to the
    logical names — every caller sees logical frames. EXISTSDEFAULT:
    rows from directories written before a backfilled column's intro
    version read its frozen default instead of NULL (the version comes
    from the directory name — a pure projection, no extra I/O)."""
    from pyspark.sql import functions as F

    cmap = st.meta["column_map"]
    names = {f.name for f in schema.fields} if schema is not None else set()
    ed = {
        c: ev for c, ev in st.meta["exists_defaults"].items() if c in names
    }

    def _logical(df: DataFrame) -> DataFrame:
        if cmap:
            keep = [c for c in ("_f", "_r", "_bf_ver")
                    if c in df.columns]
            df = df.select(
                *[F.col(cmap.get(f.name, f.name)).alias(f.name)
                  for f in schema.fields],
                *keep,
            )
        if ed:
            types = {f.name: f.dataType for f in schema.fields}
            for c, (expr, ver) in ed.items():
                df = df.withColumn(
                    c,
                    F.when(
                        F.col(c).isNull() & (F.col("_bf_ver") < ver),
                        F.expr(expr).cast(types[c]),
                    ).otherwise(F.col(c)),
                )
            df = df.drop("_bf_ver")
        return df

    def _scan(ds: list[str]) -> DataFrame:
        df = _read_dirs(spark, path, ds, pschema)
        if ed:
            df = df.withColumn(
                "_bf_ver",
                F.regexp_extract(
                    F.col("_metadata.file_path"), r"data/v(\d{8})-", 1
                ).cast("long"),
            )
        return df

    _check_reader_features(st.meta["reader_features"], "table")
    pschema = _physical_struct(schema, cmap)
    affected = _dirty_dirs(st)
    if affected is None:
        affected = set(dirs)
    dirty = [d for d in dirs if d in affected]
    clean = [d for d in dirs if d not in affected]
    if not dirty:
        df = _scan(dirs)
        return _logical(_with_position(df) if keep_position else df)
    dv = _dv_relation(spark, path, st)
    tagged = _with_position(_scan(dirty))
    cond = (
        (tagged["_f"] == dv["_dv_file"])
        & (tagged["_r"] == dv["_dv_row"])
    )
    out = tagged.join(dv, cond, "left_anti")
    if not keep_position:
        out = out.drop("_f", "_r")
    if clean:
        cdf = _scan(clean)
        out = out.unionByName(_with_position(cdf) if keep_position else cdf)
    return _logical(out)


def _check_reader_features(features, where: str) -> None:
    """The protocol-versioning gate, shared by the batch reader and
    the streaming source: refuse `features` outside
    _KNOWN_READER_FEATURES. `where` names what demands them."""
    unknown = set(features) - _KNOWN_READER_FEATURES
    if unknown:
        raise ValueError(
            f"{where} requires reader feature(s) {sorted(unknown)} this "
            "engine does not implement; refusing to read rather than "
            "return silently wrong data (protocol-versioning gate)"
        )


def _struct(meta: dict):
    """The table StructType from folded metadata, or None: the
    lossless `schema_json` when recorded (it survives column names the
    simpleString DDL cannot round-trip), else the DDL."""
    from pyspark.sql.types import StructType

    if meta["schema_json"]:
        return StructType.fromJson(json.loads(meta["schema_json"]))
    if meta["schema"]:
        return StructType.fromDDL(meta["schema"])
    return None


def _fill_generated(
    df: DataFrame, meta: dict, keep: set | None = None
) -> DataFrame:
    """Derive every GENERATED column (Delta's GENERATED ALWAYS AS:
    {column -> SQL expression over the other columns}, declared at
    create) except those in `keep`, CAST to the recorded type. Writers
    keep the batch's own columns (default) — the write gate validates
    a supplied value, so `c == expr` holds on every committed row;
    UPDATE keeps the columns it SETs, so a SET on a source column
    re-derives its dependents and an explicit SET on the generated
    column wins (and is validated)."""
    from pyspark.sql import functions as F

    gen = meta["generated"]
    if not gen:
        return df
    keep = set(df.columns) if keep is None else keep
    schema = _struct(meta)
    types = {f.name: f.dataType for f in schema.fields} if schema else {}
    for c, expr_text in gen.items():
        if c not in keep:
            col = F.expr(expr_text)
            if c in types:
                col = col.cast(types[c])
            df = df.withColumn(c, col)
    return df


def _table_gate(meta: dict) -> str | None:
    """The full write-time row gate: the table CHECK (if any) AND one
    null-safe equality conjunct per generated column — everything a
    committed row must satisfy, evaluated as ONE Observation riding
    the data write."""
    parts = []
    if meta["check"]:
        parts.append(f"({meta['check']})")
    for c, expr_text in meta["generated"].items():
        parts.append(f"(`{c}` <=> ({expr_text}))")
    return " AND ".join(parts) if parts else None


def _fill_defaults(df: DataFrame, meta: dict) -> DataFrame:
    """Add any missing WRITE-TIME defaulted column (`defaults`:
    {column -> SQL expression}) to a batch, CAST to the table's
    recorded type — after this the evolution gate sees a complete
    batch."""
    from pyspark.sql import functions as F

    defaults = meta["defaults"]
    if not defaults:
        return df
    types = {f.name: f.dataType for f in _struct(meta).fields}
    for c, expr_text in defaults.items():
        if c not in df.columns and c in types:
            df = df.withColumn(c, F.expr(expr_text).cast(types[c]))
    return df


def _physical_struct(schema, cmap: dict[str, str]):
    """The on-disk shape of the logical `schema`: field names mapped
    through the column map (types/nullability/metadata unchanged)."""
    from pyspark.sql.types import StructField, StructType

    if not cmap or schema is None:
        return schema
    return StructType([
        StructField(
            cmap.get(f.name, f.name), f.dataType, f.nullable, f.metadata
        )
        for f in schema.fields
    ])


def _stats_cols_logical(live_stats: dict, cmap: dict[str, str]) -> list[str]:
    """LOGICAL names of every column the live directories carry stats
    for. Recorded stats are keyed by PHYSICAL names; mapping them back
    through the inverse column map matters because passing a physical
    name through the LOGICAL map can shadow another column after
    chained renames and silently drop its stats."""
    inv = {p: l for l, p in cmap.items()}
    return sorted(
        {inv.get(c, c) for st in live_stats.values() for c in st}
    )


def _bloom_cols_logical(live_stats: dict, cmap: dict[str, str]) -> list[str]:
    """LOGICAL names of every column some live directory carries a
    bloom filter for — rewrites inherit them so a merge or compact
    does not erode point-prunability (the same preserve-on-rewrite
    rule as range stats)."""
    inv = {p: l for l, p in cmap.items()}
    return sorted({
        inv.get(c, c)
        for st in live_stats.values()
        for c, v in st.items()
        if isinstance(v, dict) and "bloom" in v
    })


def _bloom_prune(
    batch_df: DataFrame,
    key_cols: list[str],
    touched: list[str],
    live_stats: dict,
    cmap: dict[str, str],
    max_dirs: int = 64,
) -> tuple[list[str], list[str]]:
    """POINT-LOOKUP pruning: among range-stats-surviving `touched`
    directories, probe each directory's per-key-column bloom filters
    with the batch's keys in ONE batch-sized aggregation (max of the
    per-row all-columns-hit flag per directory — no distinct, no
    shuffle beyond the agg) and drop the directories NO batch key can
    live in. Sound because blooms have no false negatives: a directory
    containing a batch key always hits. False positives only cost the
    scan the range stats would have paid anyway. Returns
    (still_touched, newly_pruned). Directories lacking a bloom on any
    key column stay touched; above `max_dirs` candidates the phase is
    skipped outright (the probe expression carries a 64-long literal
    array per directory-column — bounded plan size beats marginal
    pruning; at that directory count range stats or clustering are
    the right lever first)."""
    from pyspark.sql import functions as F

    from sora_spark.operators import sketch

    cand = []
    for d in touched:
        st = live_stats.get(d) or {}
        if all(
            isinstance(st.get(cmap.get(k, k)), dict)
            and "bloom" in st[cmap.get(k, k)]
            for k in key_cols
        ):
            cand.append(d)
    if not cand or len(cand) > max_dirs:
        return touched, []
    aggs = []
    for i, d in enumerate(cand):
        hit = F.lit(True)
        for k in key_cols:
            words = live_stats[d][cmap.get(k, k)]["bloom"]
            hit = hit & sketch.bloom_probe_col(k, [int(w) for w in words])
        aggs.append(F.max(hit.cast("int")).alias(f"h{i}"))
    # NULL guard, riding the same agg: a batch NULL key matches only
    # dir NULLs (merge's null-groups-with-null semantics) and blooms
    # never store NULLs — so when the batch carries a NULL in some
    # key column, a directory that MAY hold NULLs there (recorded
    # nulls > 0, or unknown) must stay touched despite a bloom miss
    aggs += [
        F.max(F.col(k).isNull().cast("int")).alias(f"_n{j}")
        for j, k in enumerate(key_cols)
    ]
    row = batch_df.agg(*aggs).collect()[0]
    null_cols = {
        key_cols[j] for j in range(len(key_cols)) if row[f"_n{j}"]
    }

    def _may_match_null(d: str) -> bool:
        st = live_stats[d]
        return any(
            st.get(cmap.get(k, k), {}).get("nulls", 1) > 0
            for k in null_cols
        )

    miss = {
        cand[i]
        for i in range(len(cand))
        if not row[f"h{i}"]
        and not (null_cols and _may_match_null(cand[i]))
    }
    if not miss:
        return touched, []
    return [d for d in touched if d not in miss], sorted(miss)


def _to_physical(df: DataFrame, cmap: dict[str, str]) -> DataFrame:
    """Project a LOGICAL frame to its PHYSICAL column names for
    writing — physical names are fixed at each column's introduction
    (create or evolution add), so every data directory of the table
    shares one physical schema forever and reads stay a single scan
    no matter how many renames happened (the Delta column-mapping
    invariant)."""
    from pyspark.sql import functions as F

    if not cmap:
        return df
    return df.select(
        *[F.col(c).alias(cmap.get(c, c)) for c in df.columns]
    )


def _write_cdc(changes: DataFrame, path: str, version: int) -> str:
    """Materialize one commit's row-level changes (table columns +
    `_change_type`) into a cdc/ sidecar; returns the relpath the
    commit should list under 'cdc'. Sized by the CHANGED rows."""
    rel = os.path.join(_CDC, f"v{version:08d}-{uuid.uuid4().hex[:12]}")
    changes.write.mode("error").parquet(os.path.join(path, rel))
    return rel


def _emit_change_pairs(j: DataFrame, cols: list[str], same) -> DataFrame:
    """Row-level change emission from a `_diff_join`: inserts carry
    b's image, deletes a's, and an updated key explodes to the
    Delta-complete 'update_preimage' + 'update_postimage' PAIR. Shared
    by the CDF writer (_diff_frames) and snapshot CDC (table_changes
    include_preimages), so the persisted feed and the on-demand diff
    encode pairs identically."""
    from pyspark.sql import functions as F

    pre = F.struct(*[F.col(f"_a_{c}").alias(c) for c in cols])
    post = F.struct(*[F.col(f"_b_{c}").alias(c) for c in cols])

    def entry(ct, img):
        return F.struct(F.lit(ct).alias("_ct"), img.alias("img"))

    pair = F.array(
        entry("update_preimage", pre), entry("update_postimage", post)
    )
    emit = (
        F.when(F.col("_in_a").isNull(), F.array(entry("insert", post)))
        .when(F.col("_in_b").isNull(), F.array(entry("delete", pre)))
        .when(same, F.slice(pair, 1, 0))  # typed empty array
        .otherwise(pair)
    )
    e = j.select(F.explode(emit).alias("e"))
    return e.select(
        *[F.col(f"e.img.{c}").alias(c) for c in cols],
        F.col("e._ct").alias("_change_type"),
    )


def _diff_join(a: DataFrame, b: DataFrame, key_cols: list[str], fields):
    """The row-level diff's one join: `a` and `b` projected onto
    `fields` (a column a side lacks reads as a typed NULL — the
    pre-image fill for batches and versions that evolved the schema),
    prefixed `_a_`/`_b_` with `_in_a`/`_in_b` presence markers, and
    null-safe full-outer joined on the key columns. Returns (joined,
    same) where `same` holds when the non-key images are equal.
    Requires key-unique sides."""
    import functools
    import operator

    from pyspark.sql import functions as F

    def side(df: DataFrame, prefix: str, marker: str) -> DataFrame:
        have = set(df.columns)
        return df.select(
            *[
                (F.col(f.name) if f.name in have
                 else F.lit(None).cast(f.dataType)).alias(prefix + f.name)
                for f in fields
            ],
            F.lit(1).alias(marker),
        )

    nonkey = [f.name for f in fields if f.name not in key_cols]
    on = functools.reduce(
        operator.and_,
        [F.col(f"_a_{k}").eqNullSafe(F.col(f"_b_{k}")) for k in key_cols],
    )
    j = side(a, "_a_", "_in_a").join(side(b, "_b_", "_in_b"), on,
                                     "full_outer")
    same = (
        F.struct(*[F.col(f"_a_{c}") for c in nonkey]).eqNullSafe(
            F.struct(*[F.col(f"_b_{c}") for c in nonkey])
        )
        if nonkey
        else F.lit(True)
    )
    return j, same


def _diff_frames(
    a: DataFrame, b: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Row-level diff a -> b on key columns in b's shape (table columns
    + _change_type) — the CDF writer's core: inserts carry b's image,
    deletes a's, and an updated key emits the 'update_preimage' +
    'update_postimage' pair (a downstream incremental consumer needs
    the pre-image to retract the old contribution). Extra columns of
    `a` are ignored and columns it lacks read NULL."""
    j, same = _diff_join(a, b, key_cols, b.schema.fields)
    return _emit_change_pairs(j, b.columns, same)


def _stat_scalar(v):
    """JSON-safe, ORDER-PRESERVING encoding of a min/max value, or
    None when the type has no such encoding (then the column is
    omitted from stats and never prunes — conservative). ISO date /
    timestamp strings sort like the values they encode; Decimal does
    NOT sort lexicographically as a string, so it is excluded."""
    import datetime

    if isinstance(v, bool):
        return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (int, float, str)):
        return v
    return None


def _stat_agg_exprs(cols: list[str]) -> list:
    """The per-column (min, max, null-count) aggregate triple — the
    ONE encoding of directory stats, shared by _column_stats,
    _bucket_stats, and the Observation riding _write_data."""
    from pyspark.sql import functions as F

    aggs = []
    for i, c in enumerate(cols):
        aggs += [
            F.min(c).alias(f"mn{i}"),
            F.max(c).alias(f"mx{i}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"nu{i}"),
        ]
    return aggs


def _decode_stat(row, i: int) -> dict | None:
    """Decode one column's triple from an aggregate row: all-null
    columns carry {'nulls': n, 'allnull': True}; unprunable types
    (no order-preserving scalar encoding) return None and are
    omitted entirely — distinct from all-null, so _disjoint_on can
    still prune against an all-null side."""
    nulls = int(row[f"nu{i}"] or 0)
    lo, hi = _stat_scalar(row[f"mn{i}"]), _stat_scalar(row[f"mx{i}"])
    if row[f"mn{i}"] is None:
        return {"nulls": nulls, "allnull": True}
    if lo is not None and hi is not None:
        return {"min": lo, "max": hi, "nulls": nulls}
    return None


def _column_stats(df: DataFrame, cols: list[str]) -> dict:
    """One column-pruned pass: {col: {min, max, nulls}} per prunable
    column (encoding rules in _decode_stat)."""
    cols = [c for c in cols if c in df.columns]
    if not cols:
        return {}
    row = df.agg(*_stat_agg_exprs(cols)).collect()[0]
    out = {}
    for i, c in enumerate(cols):
        st = _decode_stat(row, i)
        if st is not None:
            out[c] = st
    return out


def _bucket_stats(df: DataFrame, cols: list[str]) -> dict:
    """Per-_bucket column stats in ONE grouped aggregation:
    {bucket: {col: {min, max, nulls}}} with _decode_stat's exact
    encoding/omission rules."""
    cols = [c for c in cols if c in df.columns]
    if not cols:
        return {}
    out: dict = {}
    for row in df.groupBy("_bucket").agg(*_stat_agg_exprs(cols)).collect():
        st = {}
        for i, c in enumerate(cols):
            dec = _decode_stat(row, i)
            if dec is not None:
                st[c] = dec
        out[int(row["_bucket"])] = st
    return out


def _disjoint_on(a: dict | None, b: dict | None) -> bool:
    """True only when NO row behind stats `a` can share this key-column
    value with a row behind stats `b`. SQL/window equality semantics:
    null groups with null, so two sides that both contain nulls are
    never disjoint; an all-null side is disjoint from a null-free one."""
    if a is None or b is None:
        return False  # no stats on a side -> cannot prune
    if a.get("nulls", 0) > 0 and b.get("nulls", 0) > 0:
        return False  # null == null under groupBy/window semantics
    if a.get("allnull") or b.get("allnull"):
        return True  # only nulls on that side; other side has none
    try:
        return a["max"] < b["min"] or b["max"] < a["min"]
    except (KeyError, TypeError):
        return False  # missing/incomparable ranges -> conservative


def _read_dirs(
    spark: SparkSession, path: str, dirs: list[str], schema
) -> DataFrame:
    """Read specific data directories WITH the table's recorded schema
    (a StructType, from _struct) applied — after a merge_schema
    evolution, pre-evolution files must surface NULLs in the added
    columns here exactly as read_table does, or rewrite paths
    (merge/delete/compact) would union-fail or silently re-commit the
    old shape."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*[os.path.join(path, d) for d in dirs])


def _write_data(
    df: DataFrame,
    path: str,
    version: int,
    stats_cols: list[str] | None = None,
    check: str | None = None,
    column_map: dict[str, str] | None = None,
    drop_if_empty: bool = False,
    bloom_cols: list[str] | None = None,
) -> tuple[str | None, dict]:
    """Write df to a fresh data directory. The CHECK violation count
    AND the per-column min/max/null stats all ride the write itself
    as ONE Observation — zero extra passes over the written bytes. On
    a CHECK violation the directory is left UNPUBLISHED (the caller
    never commits it) and ConstraintViolationError raises. SQL CHECK
    semantics: NULL passes, only FALSE violates.

    `column_map` projects the LOGICAL df to its PHYSICAL names for
    the write, so every directory of a renamed table keeps one
    on-disk schema. The CHECK expression and the stats aggregates
    bind BEFORE the projection — both reference LOGICAL names — and
    stats are recorded under PHYSICAL names (one keyspace across
    renames; pruning sites translate their lookups).

    `drop_if_empty=True` rides a row count on the same Observation:
    a zero-row write is REMOVED and (None, {}) returned, saving the
    caller a separate isEmpty() pass.

    `bloom_cols` additionally records a per-directory BLOOM FILTER
    (4096-bit/k=3, operators/sketch.bloom_bitmap) under each named
    column's stats entry: min/max ranges cannot prune POINT lookups on
    layouts whose key ranges overlap, but a bloom can (_bloom_prune).
    Cost: one column-pruned read-back of the just-written directory
    per bloom column — the bitmap needs a distinct-explode the
    Observation cannot express."""
    from pyspark.sql import functions as F
    from pyspark.sql import Observation

    rel = os.path.join(_DATA, f"v{version:08d}-{uuid.uuid4().hex[:12]}")
    full = os.path.join(path, rel)
    scols = [c for c in (stats_cols or []) if c in df.columns]
    # filter bloom cols against the LOGICAL frame here — below this
    # point df may be projected to physical names
    bcols = [c for c in (bloom_cols or []) if c in df.columns]
    exprs = []
    if check:
        exprs.append(
            F.sum(
                (~F.coalesce(F.expr(check), F.lit(True))).cast("long")
            ).alias("viol")
        )
    if drop_if_empty:
        exprs.append(F.count(F.lit(1)).alias("nrows"))
    exprs += _stat_agg_exprs(scols)
    obs = None
    if exprs:
        obs = Observation()
        df = df.observe(obs, *exprs)
    if column_map:
        df = _to_physical(df, column_map)
    df.write.mode("error").parquet(full)
    row = obs.get if obs is not None else {}
    if check:
        bad = int(row["viol"] or 0)
        if bad:
            raise ConstraintViolationError(
                f"{bad} row(s) violate the table CHECK ({check}); "
                "nothing was committed"
            )
    if drop_if_empty and int(row["nrows"] or 0) == 0:
        import shutil

        shutil.rmtree(full, ignore_errors=True)
        return None, {}
    pmap = column_map or {}
    stats = {}
    for i, c in enumerate(scols):
        st = _decode_stat(row, i)
        if st is not None:
            stats[pmap.get(c, c)] = st
    if bcols:
        from sora_spark.operators import sketch

        back = df.sparkSession.read.parquet(full)
        for c in bcols:
            pc = pmap.get(c, c)
            stats.setdefault(pc, {})["bloom"] = sketch.bloom_bitmap(
                back, pc)
    return rel, stats


def _write_dv(positions: DataFrame, path: str, version: int) -> dict:
    """THE deletion-vector writer: the `_f`/`_r` positions of
    `positions` land in a fresh `dv/v…` sidecar as `_DV_SCHEMA`
    rows. Their count and the set of data directories they name ride
    the write as one Observation, so the write runs no extra job.
    Returns the entry keys that list the vector (`dv_added`,
    `dv_rows`, `dv_targets`, the reader feature); a sidecar that
    received no rows is removed and {} returned, so a writer that
    matched nothing publishes nothing."""
    from pyspark.sql import functions as F
    from pyspark.sql import Observation

    obs = Observation()
    rel = os.path.join(_DV, f"v{version:08d}-{uuid.uuid4().hex[:12]}")
    # `_f` (regexp_extract) and `_r` (row_index) already carry the
    # string and long types `_DV_SCHEMA` declares
    positions.select(
        F.col("_f").alias("_dv_file"), F.col("_r").alias("_dv_row")
    ).observe(
        obs, F.count(F.lit(1)).alias("n"),
        F.collect_set(F.regexp_extract("_dv_file", _DIR_RE, 1)).alias("dirs"),
    ).write.mode("error").parquet(os.path.join(path, rel))
    n = int(obs.get["n"] or 0)
    if n == 0:
        import shutil

        shutil.rmtree(os.path.join(path, rel), ignore_errors=True)
        return {}
    return {"dv_added": [rel], "dv_rows": n,
            "dv_targets": {rel: sorted(obs.get["dirs"])},
            "reader_features": ["deletion_vectors"]}


def _evolved_fields(schema) -> dict:
    """The entry keys that re-record an evolved logical schema; the
    `schema_evolved` flag stops a running stream at the commit."""
    return {"schema": schema.simpleString(), "schema_json": schema.json(),
            "schema_evolved": True}


def _create_entry(schema, rel: str, stats: dict) -> dict:
    """Version 1 of a table: one data directory and its schema."""
    entry = {"version": 1, "operation": "create", "added": [rel],
             "removed": [], "schema": schema.simpleString(),
             "schema_json": schema.json()}
    if stats:
        entry["stats"] = {rel: stats}
    return entry


def _publish(path: str, entry: dict) -> int:
    """Atomically claim `entry['version']`: write the JSON fully under
    a temp name, then hard-link it to the final name — the link is
    atomic and raises if the version exists, so a loser never
    publishes a half-written or conflicting commit. Every entry is
    stamped with its publish wall-clock (`committed_at`) for
    timestamp-based time travel and DESCRIBE HISTORY."""
    import time

    entry.setdefault("committed_at", time.time())
    os.makedirs(os.path.join(path, _COMMITS), exist_ok=True)
    version = entry["version"]
    final = _commit_path(path, version)
    tmp = final + f".tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(entry, f, sort_keys=True)
        f.write("\n")
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, final)
    except FileExistsError as e:
        raise ConcurrentWriteError(
            f"version {version} already committed at {path}; re-read "
            "and retry"
        ) from e
    finally:
        os.unlink(tmp)
    return version


def create_table(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    stats_cols: list[str] | None = None,
    check: str | None = None,
    change_data_feed: bool = False,
    bloom_cols: list[str] | None = None,
    gen_cols: dict[str, str] | None = None,
) -> int:
    """Version 1: initial rows. Fails if the table already has commits.
    `stats_cols` records per-directory min/max/null stats in the
    commit so later merges/deletes can data-skip this directory.
    `check` declares a CHECK constraint (a SQL boolean expression
    over the table's columns): EVERY writer — append, merge, txn —
    validates its batch against it as an Observation riding the data
    write (no extra pass) and refuses to commit violations with
    ConstraintViolationError. NULL passes, FALSE violates (SQL
    semantics). `gen_cols` declares GENERATED columns (see
    _fill_generated); the initial rows are filled and gated like any
    later batch.

    `change_data_feed=True` (create-time property, Delta's CDF):
    every DATA-CHANGING writer additionally materializes its
    row-level changes into a `cdc/` sidecar listed on the commit —
    merge emits insert/update rows, DELETE (both modes) emits delete
    rows, UPDATE emits pre/post-image pairs — so a stream can read
    the table's CHANGES (option readChangeFeed). Appends need no
    sidecar (their added files ARE the inserts). Cost rides the
    operation: the diff reuses frames the writer already computed."""
    # the metadata as the create commit records it, folded like any
    # commit so the one fill and gate apply
    meta = _table_state([{
        "version": 1, "check": check, "generated": dict(gen_cols or {}),
    }]).meta
    df = _fill_generated(df, meta)
    rel, stats = _write_data(df, path, 1, stats_cols,
                             check=_table_gate(meta), bloom_cols=bloom_cols)
    entry = _create_entry(df.schema, rel, stats)
    entry.update({k: meta[k] for k in ("check", "generated") if meta[k]})
    if change_data_feed:
        entry["cdf"] = True
    return _publish(path, entry)


def _evolution_gate(
    meta: dict, df: DataFrame, merge_schema: bool, op: str
) -> bool:
    """Shared schema gate for append/merge/txn/replace: returns True
    when the batch legally EVOLVES the table (adds columns under
    merge_schema=True), False when the schemas already match, and
    raises ValueError on any other drift. The old-field map comes
    from the lossless `_struct`, not from re-parsing the simpleString
    DDL."""
    want = meta["schema"]
    got = df.schema.simpleString()
    if not want or got == want:
        return False
    if not merge_schema:
        raise ValueError(
            f"{op} schema {got} != table schema {want} "
            "(append/merge_upsert with merge_schema=True may add "
            "columns)"
        )
    old = {f.name: f.dataType for f in _struct(meta).fields}
    new = {f.name: f.dataType for f in df.schema.fields}
    missing = [c for c in old if c not in new]
    changed = [c for c, t in old.items() if c in new and new[c] != t]
    if missing or changed:
        raise ValueError(
            "merge_schema only ADDS columns: "
            + (f"batch drops {missing} " if missing else "")
            + (f"batch retypes {changed}" if changed else "")
        )
    # COLUMN MAPPING guard: an added column's physical name is its
    # logical name, so it must not collide with a physical name some
    # RENAMED column still occupies on disk, nor with one a dropped
    # column left behind in live files — the physical struct would
    # bind the new column to stale bytes instead of NULLs
    taken = set(meta["column_map"].values())
    reserved = set(meta["reserved_physical"])
    for c in new:
        if c in old:
            continue
        if c in taken:
            raise ValueError(
                f"{op}: cannot add column {c!r} — a renamed column "
                "still uses that physical name on disk; pick another "
                "name"
            )
        if c in reserved:
            raise ValueError(
                f"{op}: cannot add column {c!r} — a dropped column of "
                "that name is still present in live data files; run "
                "compact() first to rewrite them, then re-add"
            )
    return True


def _references(text: str, col: str) -> bool:
    """Whether SQL `text` names column `col`: a case-insensitive word
    match (Spark resolves identifiers case-insensitively), deliberately
    conservative — a hit inside a string literal counts too."""
    return bool(re.search(rf"\b{re.escape(col)}\b", text, re.IGNORECASE))


def _revalidate_dir(
    spark: SparkSession,
    path: str,
    rel: str,
    check: str | None,
    commits: list[dict],
) -> None:
    """Rebase re-validation of an already-written append directory:
    a rebase claims the next version WITHOUT rewriting the directory,
    so when a concurrent commit added or changed the table gate
    (`check`, evaluated under `commits`) after this batch validated
    itself, the directory is checked against it — otherwise an
    append + ADD CONSTRAINT race would commit rows the constraint
    forbids (no serial order produces that). One batch-sized
    early-exit scan; a violation raises ConstraintViolationError and
    leaves the orphan directory for vacuum. A gate that references a
    column the directory does not carry (the batch predates a column
    evolution) refuses the same way. A dropped gate needs no scan."""
    if check is None:
        return
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(path, rel))
    meta = _table_state(commits).meta
    cmap = meta["column_map"]
    schema = _struct(meta)
    have = set(df.columns)
    missing = [
        f.name for f in schema.fields
        if cmap.get(f.name, f.name) not in have
        and _references(check, f.name)
    ]
    if missing:
        raise ConstraintViolationError(
            f"a concurrent commit added CHECK ({check}) referencing "
            f"column(s) {missing} this in-flight batch does not carry; "
            "nothing committed — re-run the append with the evolved "
            "schema (rebase re-validation cannot evaluate the "
            "constraint over the batch)"
        )
    if cmap:
        # files carry PHYSICAL names; the CHECK binds LOGICAL ones
        df = df.select(*[
            F.col(cmap.get(f.name, f.name)).alias(f.name)
            for f in schema.fields
            if cmap.get(f.name, f.name) in have
        ])
    bad = df.filter(~F.coalesce(F.expr(check), F.lit(True))).limit(1)
    if not bad.isEmpty():
        raise ConstraintViolationError(
            f"a concurrent commit added CHECK ({check}) while this "
            "append was in flight and the batch violates it; nothing "
            "committed (rebase re-validation — the Delta-style "
            "metadata conflict rule)"
        )


def _rename_rebased_rels(path: str, entry: dict, new_version: int) -> None:
    """Re-home every relpath a rebasing entry publishes (added data
    dirs, cdc and dv sidecars) into the re-claimed version's name —
    the version embedded in a directory name is load-bearing for
    ExistsDefault backfill, and sidecar names stay consistent with
    their entry. One atomic rename per directory, no data I/O; stats
    and dv_targets keys follow their directory."""
    for key in ("added", "cdc", "dv_added"):
        rels = entry.get(key)
        if not rels:
            continue
        out = []
        for rel in rels:
            head, _, base = rel.rpartition("/")
            new_rel = f"{head}/v{new_version:08d}-" + base.split("-", 1)[1]
            os.rename(os.path.join(path, rel), os.path.join(path, new_rel))
            for by_rel in (entry.get("stats", {}),
                           entry.get("dv_targets", {})):
                if rel in by_rel:
                    by_rel[new_rel] = by_rel.pop(rel)
            out.append(new_rel)
        entry[key] = out


def _publish_append(
    spark: SparkSession,
    path: str,
    commits: list[dict],
    rel: str | None,
    stats: dict,
    fields,
    gate: str | None,
    skip=None,
) -> int | None:
    """THE publish loop of the blind appends (append, txn_append):
    publish the written directory `rel` (None: a data-less entry) at
    the next version; `fields(meta, version)` gates the batch's schema
    against the folded metadata (raising on drift) and returns the
    operation's own entry keys. A lost race REBASES IN PLACE (blind
    appends commute): `skip()` may end the attempt (returns None),
    else the log is re-read, `fields` re-gates the schema, the
    directory is re-validated when the write gate changed
    (_revalidate_dir), renamed to the re-claimed version, and
    re-published — the batch is never re-read or re-written. The last
    ConcurrentWriteError surfaces after 8 attempts."""
    base = {"added": [rel] if rel else [], "removed": []}
    if stats:
        base["stats"] = {rel: stats}
    version = commits[-1]["version"] + 1
    entry = {**base, **fields(_table_state(commits).meta, version),
             "version": version}
    last: ConcurrentWriteError | None = None
    for _ in range(8):
        try:
            return _publish(path, entry)
        except ConcurrentWriteError as e:
            last = e
        if skip is not None and skip():
            return None
        commits = _read_state_commits(path)
        meta = _table_state(commits).meta
        version = commits[-1]["version"] + 1
        extra = fields(meta, version)
        if base["added"] and _table_gate(meta) != gate:
            gate = _table_gate(meta)
            _revalidate_dir(spark, path, base["added"][0], gate, commits)
        _rename_rebased_rels(path, base, version)
        entry = {**base, **extra, "version": version}
    raise last


def append(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    stats_cols: list[str] | None = None,
    merge_schema: bool = False,
    optimize_write: int | None = None,
    auto_compact: int | None = None,
    defaults: dict[str, str] | None = None,
    backfill: bool = False,
    bloom_cols: list[str] | None = None,
) -> int:
    """Append-only commit: adds a data directory, removes nothing.

    `defaults={"col": "sql literal"}` (with merge_schema=True)
    declares WRITE-TIME defaults for the columns this evolution
    adds: from this commit on, a batch that OMITS a defaulted column
    gets it filled at write (cast to the recorded type) instead of
    refusing — old-shaped producers keep appending through an
    additive evolution (Delta's WriteDefault). By default,
    pre-evolution ROWS still read NULL; `backfill=True` additionally
    records the ExistsDefault half: rows written before this commit
    read the default instead of NULL, resolved per-directory from the
    version embedded in every data directory's name — one pure
    projection on the scan (_read_live), frozen at this evolution's
    expression like Delta's ExistsDefault, materialized physically
    by the next compact.

    THE SMALL-FILES LEVERS (Delta's optimizeWrite/autoCompact shapes;
    at scale the failure mode is file count, not data volume):
    - `optimize_write=N` bin-packs the BATCH before writing: one
      count pass over the batch (batch-sized, never the table) sizes
      `repartition(ceil(rows/N))`, so a 10k-partition upstream job
      appending 1k rows lands 1 file instead of 10k near-empty ones.
    - `auto_compact=K` triggers a post-commit compact() when the LIVE
      directory count reaches K — micro-batch appends then keep a
      bounded directory count without an external maintenance job.
      The compact is its own commit; it inherits stats columns.

    `merge_schema=True` permits SCHEMA EVOLUTION with Delta's
    mergeSchema contract: the batch may ADD new columns (old files
    read back with NULLs there — `read_table` applies the latest
    recorded schema, so no footer-merge pass is ever needed), but
    may not drop columns or change a shared column's type — those
    still refuse loudly. The evolved schema is re-recorded in this
    commit, so time travel before it keeps the old shape.

    CONCURRENCY: a lost version race REBASES IN PLACE
    (_publish_append): the already-written directory is re-published
    under the next version after the schema gate re-checks against
    the winner's log; ConcurrentWriteError surfaces only after the
    attempt cap."""
    commits = _read_state_commits(path)
    st = _table_state(commits)
    df = _fill_generated(_fill_defaults(df, st.meta), st.meta)
    evolved = _evolution_gate(st.meta, df, merge_schema, "append")
    if defaults:
        if not (merge_schema and evolved):
            raise ValueError(
                "defaults= declares write-defaults for an EVOLVING "
                "append (merge_schema=True adding those columns)"
            )
        missing = [c for c in defaults if c not in df.columns]
        if missing:
            raise ValueError(
                f"defaults name columns the batch does not add: "
                f"{missing}"
            )
    if backfill and not defaults:
        raise ValueError(
            "backfill=True records ExistsDefaults for an evolving "
            "append's defaults= columns; pass defaults= too"
        )
    if auto_compact is not None and auto_compact < 2:
        # validate BEFORE the commit: raising after _publish would
        # make a durably-committed append look failed
        raise ValueError("auto_compact threshold must be >= 2 dirs")
    if optimize_write is not None:
        if optimize_write < 1:
            raise ValueError("optimize_write must be >= 1 rows/file")
        import math

        n = df.count()
        df = df.repartition(max(1, math.ceil(n / optimize_write)))
    gate = _table_gate(st.meta)
    cmap = st.meta["column_map"]
    if bloom_cols is None:
        # inherit: dirs this table already blooms keep point-pruning
        bloom_cols = _bloom_cols_logical(st.stats, cmap)
    rel, stats = _write_data(
        df, path, st.version + 1, stats_cols, check=gate,
        column_map=cmap, bloom_cols=bloom_cols)

    def fields(meta: dict, version: int) -> dict:
        entry = {"operation": "append"}
        if _evolution_gate(meta, df, merge_schema, "append"):
            entry.update(_evolved_fields(df.schema))
            if defaults:
                entry["defaults"] = {**meta["defaults"], **defaults}
                if backfill:
                    entry["exists_defaults"] = {
                        **meta["exists_defaults"],
                        **{c: [defaults[c], version] for c in defaults},
                    }
        return entry

    v = _publish_append(spark, path, commits, rel, stats, fields, gate)
    if auto_compact is not None:
        _maybe_auto_compact(spark, path, auto_compact)
    return v


def _maybe_auto_compact(
    spark: SparkSession, path: str, min_dirs: int
) -> int | None:
    """Post-commit auto-compact (Delta's autoCompact shape): fires
    only at `min_dirs` live DIRECTORIES — gated here, not inside
    compact(), whose own live-DV override would otherwise fire a
    full rewrite right after every DV delete regardless of the
    threshold. Best-effort by contract: ANY failure is swallowed (the
    append already committed durably and must never look failed; the
    next append re-triggers). The compact is the full
    single-directory rewrite — right for the dimension/state tables
    micro-batch appends target; fact tables should run
    compact(target_partitions=live_bytes/128MB) on their own cadence
    instead."""
    try:
        st = _table_state(_read_state_commits(path))
        if len(st.live) < min_dirs:
            return None
        return compact(spark, path, min_dirs=min_dirs)
    except Exception:
        return None


def _refuse_referenced(
    op: str, col: str, meta: dict, skip: str | None = None
) -> None:
    """The refusals shared by rename_column and drop_column: a
    recorded expression that names `col` would dangle after the
    change — the CHECK, a generated column (the column itself or its
    derivation), or the default / ExistsDefault body of any column
    but `skip`. A spurious refusal (see _references) is recoverable:
    drop the constraint or compact, alter, re-add."""
    check = meta["check"]
    if check and _references(check, col):
        raise ValueError(
            f"{op}: the table CHECK ({check}) references {col!r}; "
            "drop the constraint first"
        )
    for gc, ge in meta["generated"].items():
        if col == gc or _references(ge, col):
            raise ValueError(
                f"{op}: generated column {gc!r} (= {ge}) involves "
                f"{col!r}; generated derivations are fixed at create"
            )
    for dc, de in meta["defaults"].items():
        if dc != skip and _references(de, col):
            raise ValueError(
                f"{op}: the default for column {dc!r} (= {de}) "
                f"references {col!r}; default expressions are fixed at "
                "declaration — compact() and re-evolve to change them"
            )
    for dc, (de, _iv) in meta["exists_defaults"].items():
        if dc != skip and _references(de, col):
            raise ValueError(
                f"{op}: the ExistsDefault for column {dc!r} (= {de}) "
                f"references {col!r}; backfill expressions are frozen "
                "at their evolution — compact() to materialize them "
                "first"
            )


def _mapping_entry(
    st: _State, op: str, schema, cmap: dict, col: str,
    new: str | None = None,
) -> dict:
    """A column-mapping commit (rename_column, drop_column):
    metadata-only (no added/removed), re-records the logical schema,
    carries the full map (key present even when empty — renaming
    back to the physical name empties it), is flagged schema_evolved
    so a stream stops at it, and re-keys `col` to `new` (drop: removes
    it) in both default maps."""
    entry = {
        "version": st.version + 1, "operation": op,
        "added": [], "removed": [],
        "column_map": cmap,
        **_evolved_fields(schema),
        "reader_features": ["column_mapping"],
    }
    for key in ("defaults", "exists_defaults"):
        m = dict(st.meta[key])
        if col in m:
            value = m.pop(col)
            if new is not None:
                m[new] = value
            entry[key] = m
    return entry


def rename_column(spark: SparkSession, path: str, old: str, new: str) -> int:
    """ALTER TABLE ... RENAME COLUMN, metadata-only (Delta's column
    mapping): publishes a commit that re-records the logical schema
    with the new name and maps it to the column's unchanged PHYSICAL
    name — zero data directories are read, written, or delisted.
    Reads project physical→logical (still one scan), time travel
    before the rename shows the old name, writers translate batches
    back to physical names (stats pruning keeps working), and RESTORE
    across a rename reverts the mapping. Streaming reads stop at the
    rename like at a schema evolution. Refuses when a recorded
    expression names the column (_refuse_referenced). A lost race
    re-runs the validation under commit_with_retry."""
    from pyspark.sql.types import StructField, StructType

    def attempt() -> int:
        st = _table_state(_read_state_commits(path))
        schema = _struct(st.meta)
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(
                f"rename_column: no column {old!r} (table has {names})"
            )
        if new == old:
            raise ValueError("rename_column: old and new are the same")
        if new in names:
            raise ValueError(
                f"rename_column: column {new!r} already exists"
            )
        _refuse_referenced("rename_column", old, st.meta)
        cmap = dict(st.meta["column_map"])
        phys = cmap.pop(old, old)
        if new != phys:
            cmap[new] = phys
        renamed = StructType([
            StructField(new if f.name == old else f.name,
                        f.dataType, f.nullable, f.metadata)
            for f in schema.fields
        ])
        entry = _mapping_entry(st, "rename_column", renamed, cmap, old, new)
        entry["renamed"] = {"from": old, "to": new}
        return _publish(path, entry)

    return commit_with_retry(attempt)


def drop_column(spark: SparkSession, path: str, col: str) -> int:
    """ALTER TABLE ... DROP COLUMN, metadata-only (the other half of
    Delta's column mapping): the column leaves the logical schema in
    one tiny JSON commit — no data is rewritten; the bytes stay in
    the live files (invisible: reads project only mapped logical
    columns) until a compact() rewrites them. The column's PHYSICAL
    name is recorded as RESERVED so schema evolution cannot re-add a
    column that would bind to the stale bytes; compact clears the
    reservation. Refuses to drop the last column or a column a
    recorded expression names (_refuse_referenced; the column's own
    default leaves with it). A lost race re-runs the validation under
    commit_with_retry."""
    from pyspark.sql.types import StructType

    def attempt() -> int:
        st = _table_state(_read_state_commits(path))
        schema = _struct(st.meta)
        names = [f.name for f in schema.fields]
        if col not in names:
            raise ValueError(
                f"drop_column: no column {col!r} (table has {names})"
            )
        if len(names) == 1:
            raise ValueError("drop_column: cannot drop the only column")
        _refuse_referenced("drop_column", col, st.meta, skip=col)
        cmap = dict(st.meta["column_map"])
        phys = cmap.pop(col, col)
        shrunk = StructType([f for f in schema.fields if f.name != col])
        entry = _mapping_entry(st, "drop_column", shrunk, cmap, col)
        entry["dropped"] = col
        entry["reserved_physical"] = sorted(
            set(st.meta["reserved_physical"]) | {phys}
        )
        return _publish(path, entry)

    return commit_with_retry(attempt)


def add_check_constraint(spark: SparkSession, path: str, expr: str) -> int:
    """ALTER TABLE ... ADD CONSTRAINT CHECK (expr) after create
    (Delta's shape): EXISTING rows are validated first with one
    early-exit scan (the predicate pushes into the pruned parquet
    read; a single violating row refuses) — a constraint the data
    already breaks must never be recorded, or every subsequent
    rewrite would spuriously refuse. From this commit on, every
    writer validates its batch exactly like a create-time CHECK.
    Single-constraint model: drop the existing one first (compose
    with AND). Constraints bind LOGICAL column names; rename/drop of
    a referenced column refuses.

    A lost race re-runs the whole attempt under commit_with_retry,
    scan included: the winner's rows were validated against the
    still-absent constraint and must pass it too, or append + ADD
    CONSTRAINT would have no serial equivalent (the appending side
    closes the mirror-image window with _revalidate_dir)."""
    from pyspark.sql import functions as F

    def attempt() -> int:
        st = _table_state(_read_state_commits(path))
        if st.meta["check"] is not None:
            raise ValueError(
                f"table already has a CHECK ({st.meta['check']}); "
                "drop_check_constraint first (single-constraint model — "
                "compose with AND)"
            )
        bad = (
            read_table(spark, path)
            .filter(~F.coalesce(F.expr(expr), F.lit(True)))
            .limit(1)
        )
        if not bad.isEmpty():
            raise ConstraintViolationError(
                f"existing rows violate ({expr}); constraint not added"
            )
        return _publish(path, {
            "version": st.version + 1,
            "operation": "add_constraint",
            "added": [], "removed": [], "check": expr,
        })

    return commit_with_retry(attempt)


def drop_check_constraint(spark: SparkSession, path: str) -> int:
    """ALTER TABLE ... DROP CONSTRAINT: records an explicit
    check=None (key-present, so the fold stops at it); time travel
    before the drop still enforces on historical rewrites. A lost
    race re-runs under commit_with_retry."""

    def attempt() -> int:
        st = _table_state(_read_state_commits(path))
        if st.meta["check"] is None:
            raise ValueError("table has no CHECK constraint to drop")
        return _publish(path, {
            "version": st.version + 1,
            "operation": "drop_constraint",
            "added": [], "removed": [], "check": None,
        })

    return commit_with_retry(attempt)


def version_as_of(path: str, timestamp: float) -> int:
    """The newest version committed AT OR BEFORE the unix timestamp —
    Delta's AS OF TIMESTAMP resolution. Raises if the table did not
    exist yet. Commits without a committed_at stamp sort as 0 and
    therefore always qualify."""
    best = None
    for c in _read_commits(path, None):
        if float(c.get("committed_at", 0.0)) <= timestamp:
            v = int(c["version"])
            best = v if best is None or v > best else best
    if best is None:
        raise ValueError(
            f"table at {path} has no version committed at or before "
            f"timestamp {timestamp}"
        )
    return best


def history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per commit — version, operation,
    publish timestamp, add/remove/prune counts, schema-evolution
    flag, and the txn tag if any. Driver-side fold of the log
    (commit-count bounded) surfaced as a DataFrame so it joins and
    filters like any relation."""
    rows = [
        (
            int(c["version"]),
            c.get("operation"),
            float(c.get("committed_at", 0.0)),
            len(c.get("added", [])),
            len(c.get("removed", [])),
            int(c.get("pruned_dirs", 0)),
            bool(c.get("schema_evolved", False)),
            (c.get("txn") or {}).get("app"),
            (c.get("txn") or {}).get("version"),
        )
        for c in _read_commits(path, None)
    ]
    return spark.createDataFrame(
        rows,
        "version BIGINT, operation STRING, committed_at DOUBLE, "
        "n_added INT, n_removed INT, n_pruned INT, "
        "schema_evolved BOOLEAN, txn_app STRING, txn_version BIGINT",
    )


def describe_detail(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE DETAIL: one row summarizing the table's CURRENT state
    — version, live file/byte counts, live deletion vectors and their
    recorded rows, pending cdc sidecars, schema, CHECK constraint,
    CDF flag, clustering of the newest optimize, and log-checkpoint
    presence. Driver-side fold (checkpoint-accelerated) plus one
    os.stat pass over the live files — bounded by file count, no
    Spark job."""
    st = _table_state(_read_state_commits(path))
    n_files, n_bytes = 0, 0
    for rel in st.live:
        full = os.path.join(path, rel)
        for f in os.listdir(full) if os.path.isdir(full) else []:
            fp = os.path.join(full, f)
            if os.path.isfile(fp) and f.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(fp)
    # cdc inventory and clustering provenance are HISTORY facts the
    # checkpoint deliberately doesn't fold — read the raw commits
    raw = _read_commits(path, None)
    clustered, zorder = None, False
    for c in reversed(raw):
        if c.get("operation") == "optimize" and c.get("clustered_by"):
            clustered = ",".join(c["clustered_by"])
            zorder = bool(c.get("zorder"))
            break
        if c.get("operation") == "optimize":
            break
    n_cdc = sum(len(c.get("cdc", [])) for c in raw)
    cmap = st.meta["column_map"]
    row = (
        st.version,
        len(st.live),
        n_files,
        n_bytes,
        len(st.dvs),
        st.dv_rows or 0,
        n_cdc,
        st.meta["schema"],
        st.meta["check"],
        bool(st.meta["cdf"]),
        clustered,
        zorder,
        _latest_checkpoint_version(path),
        (",".join(f"{l}->{p}" for l, p in sorted(cmap.items()))
         if cmap else None),
        len(st.meta["reserved_physical"]),
        ",".join(st.meta["reader_features"]) or None,
    )
    return spark.createDataFrame(
        [row],
        "version BIGINT, n_live_dirs INT, n_files INT, size_bytes "
        "BIGINT, n_deletion_vectors INT, dv_rows BIGINT, n_cdc_dirs "
        "INT, schema STRING, check_constraint STRING, "
        "change_data_feed BOOLEAN, clustered_by STRING, zorder "
        "BOOLEAN, checkpoint_version BIGINT, column_mapping STRING, "
        "n_reserved_physical INT, reader_features STRING",
    )


def read_table(
    spark: SparkSession, path: str, version: int | None = None,
    timestamp: float | None = None,
) -> DataFrame:
    """Snapshot read: resolves the live directory list ONCE (here), so
    the returned DataFrame is pinned to this version even if commits
    land while it is still being consumed. `version=` time-travels.
    The read applies the schema RECORDED as of that version: after a
    merge_schema append, files written before the evolution come back
    with NULLs in the new columns (no mergeSchema footer pass), and
    time travel to pre-evolution versions keeps the old shape.
    `timestamp=` (unix seconds) time-travels to the newest version
    committed at or before that instant — Delta's AS OF TIMESTAMP."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version= or timestamp=, not both")
        version = version_as_of(path, timestamp)
    # current-version reads take the checkpoint-accelerated state
    # path; time travel reads the raw per-commit files (always kept)
    st = _table_state(
        _read_state_commits(path) if version is None
        else _read_commits(path, version)
    )
    schema = _struct(st.meta)
    if not st.live:
        _check_reader_features(st.meta["reader_features"], "table")
        if schema is not None:
            # a delete that matched every row leaves zero live dirs;
            # SQL/Delta semantics: the table is EMPTY, not unreadable
            return spark.createDataFrame([], schema)
        raise ValueError(f"table at {path} has no live data")
    return _read_live(spark, path, st, st.live, schema)


def _publish_data_change(
    spark: SparkSession,
    path: str,
    entry: dict,
    commits_then: list[dict],
    read_dirs: list[str],
    conflict_rows=None,
    key_cols: list[str] | None = None,
    batch_key_stats: dict | None = None,
    attempts: int = 8,
) -> int:
    """Publish a DATA-CHANGING commit (merge/delete/update, both
    physical strategies) with Delta-style FILE-LEVEL conflict
    detection. A lost version race re-reads the log and classifies
    each winner:

    - METADATA conflict (any `_LATEST_WINS` key differs between our
      snapshot and now — schema, CHECK, mapping, defaults, generated,
      reservations): REFUSE. Our delta was computed and validated
      under the old metadata; only a full re-run can re-validate it.
    - READ-SET conflict (a winner REMOVED a directory we read —
      `read_dirs` — or delisted one we are delisting): REFUSE. Our
      pre-image is stale; rebasing would lose the winner's rewrite
      or double-apply ours (the lost-update schedules).
    - DELETION-VECTOR conflict (a winner added DVs): REFUSE — a
      vector kills rows at sub-directory granularity this check
      cannot bound, and our rewrite of a dirtied directory would
      resurrect them.
    - ADDED-ROWS overlap: a winner's new directories may hold rows
      our operation SHOULD have seen (keys a merge must dedup
      against; rows a delete/update predicate matches). Directories
      whose RECORDED key-column stats are range-disjoint from the
      batch's key ranges (`batch_key_stats`, physical-name lookup —
      the same _disjoint_on arithmetic merge pruning uses) are safe
      without I/O; the rest pay ONE bounded scan of just those
      directories through `conflict_rows` (a callable mapping the
      winners' rows to the rows that conflict — key semi-join for
      merges, the predicate for delete/update). Any surviving row:
      REFUSE (Delta's ConcurrentAppendException). Zero: the winner
      commutes with us.

    On refusal a descriptive ConcurrentWriteError surfaces; under
    commit_with_retry that re-runs the whole operation against the
    winner's state. When every winner commutes the entry REBASES IN
    PLACE: its directories rename into the re-claimed version's
    namespace and the publish retries — the already-written delta is
    never re-read or re-written. The checks are driver-side over the
    winners' entries (backlog-bounded) plus at most one scan of the
    winners' added directories (delta-bounded)."""
    try:
        return _publish(path, entry)
    except ConcurrentWriteError:
        pass
    op = entry.get("operation")
    then = _table_state(commits_then)
    last_msg = "lost the version race"
    for _ in range(max(int(attempts), 1)):
        now = _table_state(_read_state_commits(path))
        # the winners are the commit files after our snapshot, which
        # are never deleted: a log checkpoint written since is no
        # winner, though its synthetic commit lists every live
        # directory and vector as added
        winners = [
            _load_commit(path, v) for v in table_versions(path)
            if then.version < v <= now.version
        ]
        changed = [k for k in _LATEST_WINS if then.meta[k] != now.meta[k]]
        if changed:
            raise ConcurrentWriteError(
                f"{op} at {path!r}: a concurrent commit changed the "
                f"table metadata ({', '.join(changed)}) while this "
                "change was in flight; the delta must be recomputed "
                "against the new metadata (retry re-runs it — "
                "commit_with_retry does this automatically)"
            )
        ours = set(read_dirs) | set(entry.get("removed", []))
        cmap_now = now.meta["column_map"]
        scan_rels: list[str] = []
        for w in winners:
            clash = set(w.get("removed", [])) & ours
            if clash:
                raise ConcurrentWriteError(
                    f"{op} at {path!r}: concurrent "
                    f"{w.get('operation')} (version {w['version']}) "
                    f"rewrote director{'ies' if len(clash) > 1 else 'y'} "
                    f"this change read ({sorted(clash)[:3]}...); the "
                    "pre-image is stale — retry re-runs the change"
                )
            if w.get("dv_added"):
                raise ConcurrentWriteError(
                    f"{op} at {path!r}: concurrent "
                    f"{w.get('operation')} (version {w['version']}) "
                    "added deletion vectors; row liveness changed at "
                    "sub-directory granularity — retry re-runs the "
                    "change against the vectored snapshot"
                )
            for rel in w.get("added", []):
                st = (w.get("stats") or {}).get(rel)
                if (
                    key_cols and batch_key_stats and st
                    and any(
                        _disjoint_on(
                            st.get(cmap_now.get(k, k)),
                            batch_key_stats.get(k),
                        )
                        for k in key_cols
                    )
                ):
                    continue  # provably disjoint: no I/O needed
                scan_rels.append(rel)
        if scan_rels:
            if conflict_rows is None:
                raise ConcurrentWriteError(
                    f"{op} at {path!r}: concurrent commit(s) added "
                    f"director{'ies' if len(scan_rels) > 1 else 'y'} "
                    "whose overlap with this change cannot be ruled "
                    "out; retry re-runs the change"
                )
            df = _read_live(spark, path, now, scan_rels, _struct(now.meta))
            if not conflict_rows(df).limit(1).isEmpty():
                raise ConcurrentWriteError(
                    f"{op} at {path!r}: a concurrent commit added rows "
                    "this change should have seen (overlapping keys / "
                    "matching predicate); refusing the rebase — retry "
                    "re-runs the change over them (Delta's "
                    "ConcurrentAppendException rule)"
                )
        _rename_rebased_rels(path, entry, now.version + 1)
        entry["version"] = now.version + 1
        then = now
        try:
            return _publish(path, entry)
        except ConcurrentWriteError as e:
            last_msg = str(e)
    raise ConcurrentWriteError(
        f"{op} at {path!r}: {attempts} rebase "
        f"attempts exhausted ({last_msg})"
    )


def merge_upsert(
    spark: SparkSession,
    path: str,
    batch_df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    prune: bool = True,
    merge_schema: bool = False,
    merge_on_read: bool = False,
) -> int:
    """MERGE with the qup1 semantics (latest `ts_col` per key, batch
    wins ties) as a commit: reads the current snapshot, writes the
    merged rows to a NEW data directory, and commits it while
    DELISTING the rewritten directories — old versions stay readable
    (time travel), and a concurrent commit between the snapshot read
    and the publish is classified by _publish_data_change instead of
    silently losing one writer's rows (the atomic-swap sink's failure
    mode).

    DATA SKIPPING: with `prune=True`, a live directory whose recorded
    key-column stats are provably disjoint from the batch's key
    ranges (or whose bloom filters no batch key hits) is left LISTED
    and unread — only the overlapping directories union with the
    batch, get deduplicated, and are rewritten. Directories without
    stats are conservatively rewritten, so pruning never changes
    which keys the merge can see for a key-unique table (see the
    module-level SEMANTIC NOTE; `prune=False` restores the full-table
    dedup unconditionally).

    `merge_schema=True` composes MERGE with schema evolution (Delta's
    autoMerge): a batch that ADDS columns evolves the table schema in
    the SAME commit that merges it — untouched and pass-through rows
    read back with NULLs in the added columns. Drops/retypes still
    refuse loudly (the shared evolution gate).

    `merge_on_read=True` writes no rewrite: see _merge_on_read.

    Live DELETION VECTORS are reconciled on the touched-directory
    read, so a DV-deleted row can never resurrect by losing a merge
    tiebreak it should not have entered; vectors aimed at rewritten
    directories become inert (their target files leave the live set)
    and are physically retired at the next compact."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    commits = _read_state_commits(path)
    st = _table_state(commits)
    batch_df = _fill_generated(_fill_defaults(batch_df, st.meta), st.meta)
    # without the gate a type-drifting batch would be COERCED by
    # unionByName and committed as a silently different schema
    evolved = _evolution_gate(st.meta, batch_df, merge_schema,
                              "merge_upsert batch")
    version = st.version + 1
    cmap = st.meta["column_map"]
    # the rewrite re-records stats for every column the live dirs
    # already carry them for, not just the merge keys, so a merge
    # does not erode pruning on non-key columns
    stats_cols = sorted(
        set(key_cols) | set(_stats_cols_logical(st.stats, cmap))
    )

    touched, untouched = list(st.live), []
    bstats = None
    # batch stats only when some live dir can actually be pruned;
    # recorded stats are keyed by PHYSICAL names, key_cols are logical
    if prune and any(st.stats.values()):
        bstats = _column_stats(batch_df, key_cols)
        touched, untouched = [], []
        for d in st.live:
            skip = any(
                _disjoint_on(
                    st.stats[d].get(cmap.get(k, k)), bstats.get(k)
                )
                for k in key_cols
            )
            (untouched if skip else touched).append(d)
        touched, bloom_pruned = _bloom_prune(
            batch_df, key_cols, touched, st.stats, cmap)
        untouched += bloom_pruned

    if merge_on_read:
        return _merge_on_read(
            spark, path, commits, st, batch_df, key_cols, ts_col,
            touched, len(untouched), stats_cols, evolved, bstats,
        )

    new = batch_df.withColumn("_src", F.lit(1))
    if touched:
        cur = _read_live(
            spark, path, st, touched, _struct(st.meta)
        ).withColumn("_src", F.lit(0))
        # evolution: the current rows lack the batch's added columns —
        # allowMissingColumns fills them with NULLs (Delta autoMerge)
        unioned = cur.unionByName(new, allowMissingColumns=evolved)
    else:
        unioned = new  # pure insert: nothing overlaps, dedup batch only
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col).desc(), F.col("_src").desc()
    )
    merged = (
        unioned
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
    rel, stats = _write_data(
        merged, path, version, stats_cols, check=_table_gate(st.meta),
        column_map=cmap,
        bloom_cols=_bloom_cols_logical(st.stats, cmap))
    entry = {"version": version, "operation": "merge_upsert",
             "added": [rel], "removed": touched,
             "pruned_dirs": len(untouched)}
    if st.meta["cdf"]:
        # CDF: diff the pre-image (touched rows only — pruned dirs
        # pass through unchanged) against the merged output
        pre = cur if touched else spark.createDataFrame([], merged.schema)
        entry["cdc"] = [
            _write_cdc(_diff_frames(pre, merged, key_cols), path, version)
        ]
    if evolved:
        entry.update(_evolved_fields(merged.schema))
    if stats:
        entry["stats"] = {rel: stats}
    bk_keys = batch_df.select(*key_cols).distinct()
    return _publish_data_change(
        spark, path, entry, commits, read_dirs=touched,
        conflict_rows=lambda df: df.join(
            F.broadcast(bk_keys), key_cols, "left_semi"),
        key_cols=key_cols, batch_key_stats=bstats,
    )


def _matched_dirs(full: DataFrame, cond, live: list[str]) -> list[str]:
    """The live directories that CONTAIN a row `cond` matches: one
    pushdown scan of the position-tagged `full` (_read_live
    keep_position=True) collecting distinct directory prefixes of
    `_f` — a driver result bounded by the live directory count,
    never the row count."""
    from pyspark.sql import functions as F

    hit = {
        r[0]
        for r in full.filter(cond)
        .select(F.regexp_extract(F.col("_f"), _DIR_RE, 1))
        .distinct()
        .collect()
    }
    return [d for d in live if d in hit]


def _write_survivors(
    spark: SparkSession,
    path: str,
    st: _State,
    dirs: list[str],
    cond,
    version: int,
    stats_cols: list[str],
) -> tuple[str | None, dict]:
    """Rewrite `dirs` without the rows `cond` matches (NULL keeps the
    row, SQL semantics), inheriting bloom columns; (None, {}) when
    nothing survives."""
    from pyspark.sql import functions as F

    cmap = st.meta["column_map"]
    keep = _read_live(spark, path, st, dirs, _struct(st.meta)).filter(
        ~F.coalesce(cond, F.lit(False)))
    return _write_data(
        keep, path, version, stats_cols, column_map=cmap,
        drop_if_empty=True, bloom_cols=_bloom_cols_logical(st.stats, cmap))


def _delete_images(full: DataFrame, cond) -> DataFrame:
    """CDF delete images of the rows `cond` matches in a
    position-tagged scan."""
    from pyspark.sql import functions as F

    cols = [c for c in full.columns if c not in ("_f", "_r")]
    return full.filter(cond).select(
        *cols, F.lit("delete").alias("_change_type"))


def delete_where(
    spark: SparkSession,
    path: str,
    condition,
    stats_cols: list[str] | None = None,
    deletion_vectors: bool = False,
) -> int | None:
    """DELETE FROM table WHERE condition, as a commit. One pushdown
    scan over the row positions finds the live directories that
    actually CONTAIN matching rows (_matched_dirs); only those are
    rewritten with the survivors — untouched directories stay listed
    unread, so the rewrite cost tracks the matched data. Returns the
    new version, or None when nothing matched (no commit published).
    NULL-safe: rows where the condition is NULL are kept, like SQL
    DELETE.

    `deletion_vectors=True` (the Delta DV shape) touches ZERO data
    directories: the matched rows' positions are written to a `dv/`
    sidecar whose size tracks the MATCHED rows, and the commit lists
    only it (`dv_added`). Reads reconcile live vectors with a
    position anti-join; `compact` applies them physically and delists
    them. Repeated DV deletes stack (each scans live rows only, so
    positions are never double-listed); both modes fold the
    already-live vectors first, so neither can resurrect or re-match
    a dead row.

    `stats_cols` defaults to every column any live directory already
    has stats for, so data-skipping survives the rewrite. (DV deletes
    leave directory stats untouched — ranges then over-approximate
    the surviving rows, which keeps pruning sound, just looser until
    a compact tightens them.)"""
    from pyspark.sql import functions as F

    cond = F.expr(condition) if isinstance(condition, str) else condition
    commits = _read_state_commits(path)
    st = _table_state(commits)
    version = st.version + 1
    if stats_cols is None:
        stats_cols = _stats_cols_logical(st.stats, st.meta["column_map"])
    full = _read_live(
        spark, path, st, st.live, _struct(st.meta), keep_position=True
    )

    if deletion_vectors:
        dv = _write_dv(full.filter(cond), path, version)
        if not dv:
            return None
        entry = {"version": version, "operation": "delete_dv",
                 "added": [], "removed": [],
                 "pruned_dirs": len(st.live), **dv}
    else:
        touched = _matched_dirs(full, cond, st.live)
        if not touched:
            return None
        rel, stats = _write_survivors(
            spark, path, st, touched, cond, version, stats_cols)
        entry = {"version": version, "operation": "delete",
                 "added": [rel] if rel else [], "removed": touched,
                 "pruned_dirs": len(st.live) - len(touched)}
        if stats:
            entry["stats"] = {rel: stats}
    if st.meta["cdf"]:
        entry["cdc"] = [
            _write_cdc(_delete_images(full, cond), path, version)]
    # read set = every live dir (the position scan saw them all); a
    # lost race rebases over winners whose added rows the predicate
    # provably never matches
    return _publish_data_change(
        spark, path, entry, commits, read_dirs=st.live,
        conflict_rows=lambda df: df.filter(
            F.coalesce(cond, F.lit(False))),
    )


def _merge_on_read(
    spark: SparkSession,
    path: str,
    commits: list[dict],
    st: _State,
    batch_df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    touched: list[str],
    n_pruned: int,
    stats_cols: list[str],
    evolved: bool,
    batch_key_stats: dict | None,
) -> int:
    """MERGE-ON-READ (Iceberg's merge-on-read / Delta's DV MERGE —
    merge_upsert's merge_on_read=True): instead of rewriting the
    touched directories, the current rows the batch supersedes die
    via a DELETION-VECTOR sidecar (position list, sized by the
    MATCHED rows) and the batch's winning rows land as one appended
    directory — the commit touches ZERO existing data directories,
    so an upsert costs the batch plus a position scan of the
    key-overlapping directories (stats pruning applies to the scan
    exactly as to the rewrite), deferring the physical reconciliation
    to the next compact. Winner semantics are the rewrite's: latest
    ts_col per key, batch wins ties; batch rows older than the
    current row are dropped. Assumes a key-unique table (the
    create+merge lifecycle guarantee; with duplicate current keys the
    rewrite dedups, this path keeps the newer duplicate).

    `evolved=True`: the batch legally ADDS columns (the shared
    evolution gate vetted it) and this commit re-records the evolved
    schema: losers die via the vector as before (positions are
    shape-agnostic), winners land in the NEW shape, and old
    directories read NULL in the added columns. The recorded column
    order matches the rewrite path's unionByName: table columns
    first, then the batch's added columns in batch order."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    version = st.version + 1
    cmap = st.meta["column_map"]
    wb = Window.partitionBy(*key_cols).orderBy(F.col(ts_col).desc())
    b = (
        batch_df.withColumn("_rn", F.row_number().over(wb))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    schema = _struct(st.meta)
    dv: dict = {}
    cur_wins = None
    losers = None
    if touched:
        cur = _read_live(
            spark, path, st, touched, schema, keep_position=True)
        # the batch window and the DV-aware touched-dir scan each feed
        # several actions below (DV write, data write, CDC):
        # materialize once, batch-sized and matched-rows-sized
        b = b.localCheckpoint(eager=True)
        bk = b.select(*key_cols, F.col(ts_col).alias("_bts"))
        j = cur.join(F.broadcast(bk), key_cols, "inner").localCheckpoint(
            eager=True
        )
        # batch wins ties — the rewrite path's _src tiebreak
        losers = j.filter(F.col("_bts") >= F.col(ts_col))
        dv = _write_dv(losers, path, version)
        cur_wins = (
            j.filter(F.col("_bts") < F.col(ts_col))
            .select(*key_cols).distinct()
        )
    ins = b
    if cur_wins is not None:
        ins = b.join(F.broadcast(cur_wins), key_cols, "left_anti")
    if evolved:
        old_names = [f.name for f in schema.fields]
        ins = ins.select(*old_names, *[
            f.name for f in b.schema.fields if f.name not in set(old_names)
        ])
    rel, stats = _write_data(
        ins, path, version, stats_cols,
        check=_table_gate(st.meta), column_map=cmap,
        drop_if_empty=True, bloom_cols=_bloom_cols_logical(st.stats, cmap),
    )
    entry = {
        "version": version, "operation": "merge_upsert",
        "merge_on_read": True,
        "added": [rel] if rel else [], "removed": [],
        "pruned_dirs": n_pruned, **dv,
    }
    if evolved:
        entry.update(_evolved_fields(ins.schema))
    if stats:
        entry["stats"] = {rel: stats}
    if st.meta["cdf"]:
        # the rewrite merge's emission semantics via the same diff:
        # batch-only keys are inserts, superseded keys pre/post pairs,
        # VALUE-IDENTICAL replacements nothing (a replayed batch is a
        # physical change but a logical no-op)
        pre = losers if losers is not None else spark.createDataFrame(
            [], ins.schema)
        entry["cdc"] = [_write_cdc(
            _diff_frames(pre, ins, key_cols), path, version,
        )]
    # read set = the key-overlapping dirs whose positions feed the
    # vector; same file-level rebase rules as the rewrite path
    return _publish_data_change(
        spark, path, entry, commits, read_dirs=touched,
        conflict_rows=lambda df: df.join(
            F.broadcast(b.select(*key_cols).distinct()),
            key_cols, "left_semi"),
        key_cols=key_cols, batch_key_stats=batch_key_stats,
    )


def replace_where(
    spark: SparkSession,
    path: str,
    condition: str,
    batch_df: DataFrame,
    stats_cols: list[str] | None = None,
) -> int:
    """INSERT OVERWRITE ... WHERE — Delta's replaceWhere: atomically
    replace exactly the rows matching `condition` with `batch_df`, in
    ONE commit (the backfill/partition-overwrite idiom: recompute one
    day/segment and swap it in without touching the rest). The batch
    must itself satisfy the predicate — rows outside it REFUSE the
    whole commit (ConstraintViolationError, nothing published),
    because silently inserting out-of-scope rows while deleting only
    in-scope ones corrupts the very invariant the caller is relying
    on. NULL predicate rows count as non-matching (kept, and illegal
    in the batch), SQL semantics.

    Cost shape is DELETE's: one pushdown position scan finds the
    directories that CONTAIN matching rows; only those are rewritten
    (survivors), untouched directories stay listed unread, and the
    batch lands as its own directory. The table CHECK constraint
    still validates the batch; live deletion vectors are reconciled
    on the survivor read; CDF tables record delete images of the
    replaced rows and insert images of the batch in the same
    commit. A lost race raises ConcurrentWriteError."""
    from pyspark.sql import functions as F

    if not isinstance(condition, str):
        raise ValueError("replace_where takes the predicate as SQL text")
    cond = F.expr(condition)
    st = _table_state(_read_state_commits(path))
    batch_df = _fill_generated(_fill_defaults(batch_df, st.meta), st.meta)
    _evolution_gate(st.meta, batch_df, False, "replace_where batch")
    version = st.version + 1
    cmap = st.meta["column_map"]
    if stats_cols is None:
        stats_cols = _stats_cols_logical(st.stats, cmap)
    full = _read_live(
        spark, path, st, st.live, _struct(st.meta), keep_position=True
    )
    # the batch-scope gate rides the batch write itself: every row
    # must SATISFY the predicate (strictly — NULL is out of scope)
    scope = f"coalesce(({condition}), false)"
    check = _table_gate(st.meta)
    gate = f"({scope}) AND ({check})" if check else scope
    batch_rel, batch_stats = _write_data(
        batch_df, path, version, stats_cols, check=gate, column_map=cmap,
        bloom_cols=_bloom_cols_logical(st.stats, cmap),
    )
    touched = _matched_dirs(full, cond, st.live)
    added, entry_stats = [batch_rel], {}
    if batch_stats:
        entry_stats[batch_rel] = batch_stats
    if touched:
        rel, stats = _write_survivors(
            spark, path, st, touched, cond, version, stats_cols)
        if rel:
            added.append(rel)
            if stats:
                entry_stats[rel] = stats
    entry = {"version": version, "operation": "replace_where",
             "added": added, "removed": touched,
             "pruned_dirs": len(st.live) - len(touched)}
    if st.meta["cdf"]:
        deletes = _delete_images(full, cond)
        inserts = batch_df.select(
            *deletes.columns[:-1], F.lit("insert").alias("_change_type"))
        entry["cdc"] = [_write_cdc(
            deletes.unionByName(inserts), path, version)]
    if entry_stats:
        entry["stats"] = entry_stats
    return _publish(path, entry)


def _apply_set(
    df: DataFrame, cols: list[str], cond, set_exprs: dict, meta: dict
) -> DataFrame:
    """UPDATE's SET projection of `df` onto `cols`: where `cond` holds
    (NULL counts as false) each assigned column takes its expression
    CAST back to the column's current type, every other value passes
    through, and generated columns the UPDATE did not SET re-derive
    (_fill_generated)."""
    from pyspark.sql import functions as F

    types = {f.name: f.dataType for f in df.schema.fields}
    matched = F.coalesce(cond, F.lit(False))
    out = []
    for c in cols:
        if c in set_exprs:
            e = set_exprs[c]
            e = (F.expr(e) if isinstance(e, str) else e).cast(types[c])
            out.append(F.when(matched, e).otherwise(F.col(c)).alias(c))
        else:
            out.append(F.col(c))
    return _fill_generated(df.select(*out), meta, keep=set(set_exprs))


def update_where(
    spark: SparkSession,
    path: str,
    condition,
    set_exprs: dict,
    stats_cols: list[str] | None = None,
    merge_on_read: bool = False,
) -> int | None:
    """UPDATE table SET col = expr, ... WHERE condition, as a commit.
    Same cost shape as the rewrite DELETE: one pushdown scan over the
    row positions finds the live directories that CONTAIN matching
    rows, and only those are rewritten — matched rows get `set_exprs`
    applied (values for unlisted columns pass through), unmatched
    rows in the same directory pass through verbatim, untouched
    directories stay listed unread. SQL UPDATE semantics: a NULL
    condition leaves the row unchanged. Returns the new version, or
    None when nothing matched (no commit published).

    `merge_on_read=True` (Delta's DV-based UPDATE, _update_on_read):
    the matched rows' positions die via a DELETION-VECTOR sidecar and
    their UPDATED images land as ONE appended directory — the commit
    touches zero existing data directories. Semantics are EXACTLY the
    rewrite path's — same matched set, same cast-back assignments,
    same CDC pre/post pairs; qup29 pins the hash equality both
    DV-served and post-compact.

    `set_exprs` maps column name -> SQL expression string or Column;
    expressions may reference any table column (e.g. {"price":
    "price * 1.1"}). Updating may not change the table schema: each
    assignment is CAST back to the column's current type, so an
    expression whose value cannot cast refuses at write time rather
    than silently committing a drifted schema. Live deletion vectors
    are reconciled on every read here, so a DV-deleted row can
    neither match nor resurrect. `stats_cols` defaults like DELETE's
    (every column live directories already track). The table CHECK
    constraint validates the rewritten directory as usual."""
    from pyspark.sql import functions as F

    cond = F.expr(condition) if isinstance(condition, str) else condition
    commits = _read_state_commits(path)
    st = _table_state(commits)
    version = st.version + 1
    cmap = st.meta["column_map"]
    if stats_cols is None:
        stats_cols = _stats_cols_logical(st.stats, cmap)
    schema = _struct(st.meta)
    full = _read_live(
        spark, path, st, st.live, schema, keep_position=True
    )
    bad = [c for c in set_exprs if c not in full.columns]
    if bad:
        raise ValueError(f"update_where sets unknown column(s) {bad}")

    if merge_on_read:
        return _update_on_read(
            spark, path, commits, st, full, cond, set_exprs, stats_cols)
    touched = _matched_dirs(full, cond, st.live)
    if not touched:
        return None
    cur = _read_live(spark, path, st, touched, schema)
    updated = _apply_set(cur, cur.columns, cond, set_exprs, st.meta)
    rel, stats = _write_data(
        updated, path, version, stats_cols, check=_table_gate(st.meta),
        column_map=cmap, bloom_cols=_bloom_cols_logical(st.stats, cmap))
    entry = {"version": version, "operation": "update",
             "added": [rel], "removed": touched,
             "pruned_dirs": len(st.live) - len(touched)}
    if st.meta["cdf"]:
        # the Delta-complete UPDATE pair: pre-images are the matched
        # rows' ORIGINAL values, post-images the transformation
        # applied to exactly those rows — both change-sized
        hit_rows = cur.filter(F.coalesce(cond, F.lit(False)))
        pre = hit_rows.select(
            "*", F.lit("update_preimage").alias("_change_type"))
        post = _apply_set(
            hit_rows, cur.columns, cond, set_exprs, st.meta
        ).select("*", F.lit("update_postimage").alias("_change_type"))
        entry["cdc"] = [_write_cdc(pre.unionByName(post), path, version)]
    if stats:
        entry["stats"] = {rel: stats}
    return _publish_data_change(
        spark, path, entry, commits, read_dirs=st.live,
        conflict_rows=lambda df: df.filter(
            F.coalesce(cond, F.lit(False))),
    )


def _update_on_read(
    spark: SparkSession,
    path: str,
    commits: list[dict],
    st: _State,
    full: DataFrame,
    cond,
    set_exprs: dict,
    stats_cols: list[str],
) -> int | None:
    """DV-mode UPDATE (update_where's merge_on_read=True): the matched
    rows' positions go to a deletion-vector sidecar, their updated
    images land as one appended directory, and the commit removes
    NOTHING — the Delta DV-UPDATE shape (vector the old rows, append
    the new images, reconcile at compact). The matched scan feeds
    three consumers (the vector, the image write, the CDC pair), so
    it is materialized ONCE, matched-rows-sized; the vector write
    counts it."""
    from pyspark.sql import functions as F

    version = st.version + 1
    cmap = st.meta["column_map"]
    hit_rows = full.filter(F.coalesce(cond, F.lit(False))).localCheckpoint(
        eager=True)
    dv = _write_dv(hit_rows, path, version)
    if not dv:
        return None
    tcols = [c for c in full.columns if c not in ("_f", "_r")]
    updated = _apply_set(hit_rows, tcols, cond, set_exprs, st.meta)
    rel, stats = _write_data(
        updated, path, version, stats_cols, check=_table_gate(st.meta),
        column_map=cmap, bloom_cols=_bloom_cols_logical(st.stats, cmap))
    entry = {
        "version": version, "operation": "update",
        "merge_on_read": True,
        "added": [rel], "removed": [],
        "pruned_dirs": len(st.live),
        **dv,
    }
    if st.meta["cdf"]:
        # identical emission to the rewrite path: change-sized
        # pre/post pairs from the same matched set
        pre = hit_rows.select(
            *tcols, F.lit("update_preimage").alias("_change_type"))
        post = updated.select(
            "*", F.lit("update_postimage").alias("_change_type"))
        entry["cdc"] = [_write_cdc(pre.unionByName(post), path, version)]
    if stats:
        entry["stats"] = {rel: stats}
    return _publish_data_change(
        spark, path, entry, commits, read_dirs=st.live,
        conflict_rows=lambda df: df.filter(
            F.coalesce(cond, F.lit(False))),
    )


def compact(
    spark: SparkSession,
    path: str,
    target_partitions: int = 1,
    min_dirs: int = 2,
    cluster_by: list[str] | None = None,
    zorder: bool = False,
) -> int | None:
    """OPTIMIZE: rewrite the live directories, as a commit — the data
    is logically unchanged, old versions stay time-travelable, and
    `vacuum` later reclaims the delisted small directories. A no-op
    (returns None) below `min_dirs` live directories, unless live
    deletion vectors or `cluster_by` ask for the rewrite. Pick
    `target_partitions` by size (e.g. live bytes / 128 MB) for fact
    tables; the default 1 is the dimension-table setting. Stats
    columns are inherited so data-skipping keeps working. The rewrite
    reads through the live deletion vectors and the commit delists
    them all; it also goes through the logical projection, so the
    physical names drop_column reserved are cleared.

    CLUSTERED OPTIMIZE (`cluster_by=[cols]`, the liquid-clustering
    shape): instead of one directory, the table is range-partitioned
    on the cluster columns into `target_partitions` RANGE-DISJOINT
    directories, each committed with its own tight min/max stats —
    so subsequent merges and deletes keyed near those columns prune
    to a few directories no matter how the table was originally
    laid down. Uses repartitionByRange (sampled range boundaries —
    boundaries affect layout only, never the data) and registers
    each range bucket as its own relpath inside one write (a
    _bucket=i hive subdir; the bucket column itself is not part of
    the table schema and disappears under read_table's explicit
    schema).

    Z-ORDERED OPTIMIZE (`zorder=True`, two or more cluster columns —
    Delta's ZORDER BY): lexicographic range clustering gives tight
    per-directory ranges on the FIRST cluster column only; the Z
    variant range-partitions on the Morton interleave of the
    normalized columns (operators/layout.py zvalue_n over
    width_bucket-normalized values — layout only, never data), so
    every directory is a tight BOX in all dimensions and predicates
    on EITHER column prune. The structural contrast is pinned in
    test_capabilities.py::test_commit_log_zorder_compact."""
    from pyspark.sql import functions as F

    st = _table_state(_read_state_commits(path))
    live = st.live
    if len(live) < min_dirs and not cluster_by and not st.dvs:
        return None
    version = st.version + 1
    cmap = st.meta["column_map"]
    stats_cols = _stats_cols_logical(st.stats, cmap)
    schema = _struct(st.meta)
    full = _read_live(spark, path, st, live, schema)
    n_out = max(int(target_partitions), 1)
    entry = {"version": version, "operation": "optimize",
             "removed": live, "dv_removed": st.dvs}
    if st.meta["reserved_physical"]:
        entry["reserved_physical"] = []

    if not cluster_by:
        rel, stats = _write_data(
            full.repartition(n_out), path, version, stats_cols,
            column_map=cmap,
            bloom_cols=_bloom_cols_logical(st.stats, cmap),
        )
        entry["added"] = [rel]
        if stats:
            entry["stats"] = {rel: stats}
        return _publish(path, entry)

    stats_cols = sorted(
        {cmap.get(c, c) for c in set(stats_cols) | set(cluster_by)}
    )
    if zorder:
        if len(cluster_by) < 2:
            raise ValueError(
                "zorder=True needs at least two cluster_by columns "
                f"(got {cluster_by})"
            )
        from sora_spark.operators.layout import zvalue_n

        # normalize each dimension to 0..255 via width_bucket over its
        # observed range (one stats pass; layout-only, never the data);
        # N dimensions interleave round-robin (zvalue_n)
        aggs = []
        for i, c in enumerate(cluster_by):
            aggs += [F.min(c).alias(f"lo{i}"), F.max(c).alias(f"hi{i}")]
        rng = full.agg(*aggs).collect()[0]
        def _norm(c, lo, hi):
            if lo is None or hi is None or lo == hi:
                return F.lit(0).cast("long")
            # width_bucket maps v==hi to bucket n+1 — clamp into the
            # 8-bit range the interleave expects (layout-only)
            return F.least(
                F.greatest(
                    F.width_bucket(
                        F.col(c).cast("double"), F.lit(float(lo)),
                        F.lit(float(hi)), F.lit(256),
                    ) - 1,
                    F.lit(0),
                ),
                F.lit(255),
            ).cast("long")
        staged = full
        zcols = []
        for i, c in enumerate(cluster_by):
            zc = f"_z{i}"
            zcols.append(zc)
            staged = staged.withColumn(
                zc, _norm(c, rng[f"lo{i}"], rng[f"hi{i}"]))
        staged = (
            staged.withColumn("_z", zvalue_n(zcols, bits=8))
            .repartitionByRange(n_out, "_z")
            .sortWithinPartitions("_z")
            .drop("_z", *zcols)
            .withColumn("_bucket", F.spark_partition_id())
        )
    else:
        staged = (
            full.repartitionByRange(n_out, *[F.col(c) for c in cluster_by])
            .withColumn("_bucket", F.spark_partition_id())
        )
    if cmap:
        # the staged pipeline computed over logical names; write
        # physical ones (keeping the layout-only _bucket column)
        staged = staged.select(
            *[F.col(f.name).alias(cmap.get(f.name, f.name))
              for f in schema.fields],
            F.col("_bucket"),
        )
    base_rel = os.path.join(
        _DATA, f"v{version:08d}-{uuid.uuid4().hex[:12]}"
    )
    staged.write.partitionBy("_bucket").mode("error").parquet(
        os.path.join(path, base_rel)
    )
    buckets = sorted(
        d for d in os.listdir(os.path.join(path, base_rel))
        if d.startswith("_bucket=")
    )
    # ONE grouped pass over the written data computes every bucket's
    # stats (the hive read exposes _bucket as a partition column)
    added, entry_stats = [], {}
    grouped = _bucket_stats(
        spark.read.parquet(os.path.join(path, base_rel)), stats_cols
    )
    for b in buckets:
        rel = os.path.join(base_rel, b)
        added.append(rel)
        bst = grouped.get(int(b.split("=", 1)[1]), {})
        if bst:
            entry_stats[rel] = bst
    entry["added"] = added
    entry["clustered_by"] = list(cluster_by)
    if zorder:
        entry["zorder"] = True
    if entry_stats:
        entry["stats"] = entry_stats
    return _publish(path, entry)


def compact_small(
    spark: SparkSession,
    path: str,
    max_dir_bytes: int,
    target_partitions: int = 1,
    min_dirs: int = 2,
) -> int | None:
    """Size-SELECTIVE OPTIMIZE: rewrite only the live directories
    whose data bytes are under `max_dir_bytes`, leaving the
    well-sized ones untouched and unread — the Delta OPTIMIZE
    file-selection semantics and the fact-table maintenance shape:
    the cost tracks the SMALL files a micro-batch ingest leaves
    behind, never the compacted bulk. A no-op (returns None) below
    `min_dirs` qualifying directories. Sizes come from a driver-side
    listing (stat calls bounded by the live file count).

    Deletion vectors are handled surgically, not wholesale: the
    rewrite reads the selected directories THROUGH the live vectors
    (their positions are applied physically), and vectors aimed at
    UNSELECTED directories survive as one re-written residual
    sidecar — the commit delists every old vector and lists the
    residual, so no dead row revives and no unselected directory
    pays a rewrite. Unlike full compact, dropped-column physical
    names stay reserved (unselected directories may still hold the
    bytes). Stats columns are inherited; the merged directory gets
    fresh stats."""
    from pyspark.sql import functions as F

    st = _table_state(_read_state_commits(path))
    cmap = st.meta["column_map"]

    def _dir_bytes(rel: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(os.path.join(path, rel)):
            for f in files:
                if not f.startswith(("_", ".")):
                    total += os.path.getsize(os.path.join(root, f))
        return total

    small = [d for d in st.live if _dir_bytes(d) < int(max_dir_bytes)]
    if len(small) < max(int(min_dirs), 2):
        return None
    version = st.version + 1
    merged = _read_live(spark, path, st, small, _struct(st.meta))
    rel, stats = _write_data(
        merged.repartition(max(int(target_partitions), 1)),
        path, version, _stats_cols_logical(st.stats, cmap),
        column_map=cmap, drop_if_empty=True,
        bloom_cols=_bloom_cols_logical(st.stats, cmap),
    )
    entry = {
        "version": version, "operation": "optimize",
        "small_only": True, "max_dir_bytes": int(max_dir_bytes),
        "added": [rel] if rel else [], "removed": small,
        "pruned_dirs": len(st.live) - len(small),
    }
    if st.dvs:
        # vectors aimed at selected dirs were applied by the read;
        # the rest survive as one residual sidecar
        resid = _dv_relation(spark, path, st).filter(
            ~F.regexp_extract("_dv_file", _DIR_RE, 1).isin(small)
        ).select(F.col("_dv_file").alias("_f"), F.col("_dv_row").alias("_r"))
        entry["dv_removed"] = st.dvs
        entry.update(_write_dv(resid, path, version))
    if stats:
        entry["stats"] = {rel: stats}
    return _publish(path, entry)


def restore_table(spark: SparkSession, path: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION — Delta's rollback: publish a NEW
    commit whose live file set, live deletion vectors and latest-wins
    metadata (schema, CHECK, column mapping, defaults, generated,
    reservations) equal those of `version`, leaving all history
    intact — the rollback is itself time-travelable and shows in
    DESCRIBE HISTORY, nothing is deleted. Pure log manipulation: no
    data is read or written. Re-added directories and vectors carry
    the stats, row counts and vector targets their original commits
    recorded.
    Refuses if any directory the target version needs was already
    reclaimed by vacuum (Delta's restore has the same failure
    mode)."""
    commits_then = _read_commits(path, version)
    now = _table_state(_read_commits(path, None))
    then = _table_state(commits_then)
    missing = [
        d for d in then.live + then.dvs
        if not os.path.isdir(os.path.join(path, d))
    ]
    if missing:
        raise ValueError(
            f"cannot restore to version {version}: {len(missing)} "
            f"directories were vacuumed (e.g. {missing[0]})"
        )
    entry = {
        "version": now.version + 1, "operation": "restore",
        "restored_version": int(version),
        "removed": [d for d in now.live if d not in set(then.live)],
        "added": [d for d in then.live if d not in set(now.live)],
        "dv_removed": [d for d in now.dvs if d not in set(then.dvs)],
        "dv_added": [d for d in then.dvs if d not in set(now.dvs)],
    }
    for k in _LATEST_WINS:
        if then.meta[k] != now.meta[k]:
            entry[k] = then.meta[k]
    if "schema" in entry or "schema_json" in entry:
        # the schema pair is re-recorded together, flagged as an
        # evolution so a running stream stops at it
        entry.update(schema=then.meta["schema"],
                     schema_json=then.meta["schema_json"],
                     schema_evolved=True)
    readd_stats = {
        d: then.stats[d] for d in entry["added"] if then.stats.get(d)
    }
    if readd_stats:
        entry["stats"] = readd_stats
    if entry["dv_added"]:
        entry["dv_rows"] = _dv_rows(commits_then, set(entry["dv_added"])) or 0
    readd_targets = {
        d: then.dv_targets[d] for d in entry["dv_added"]
        if d in then.dv_targets
    }
    if readd_targets:
        entry["dv_targets"] = readd_targets
    return _publish(path, entry)


def clone_table(spark: SparkSession, src: str, dst: str) -> int:
    """SHALLOW-style CLONE: materialize the source's CURRENT snapshot
    as an independent table at `dst` without copying any data bytes —
    every live data file (and live deletion-vector file) is
    HARD-LINKED into the clone (POSIX link: zero-copy, refcounted, so
    either table may vacuum/rewrite independently afterwards; an
    object-store port would reference manifests instead, Delta's
    shallow-clone shape). The clone's single commit is published AT
    THE SOURCE'S latest version number (not 1): cloned directories
    keep their source relpaths, and the version embedded in a
    directory name is load-bearing for ExistsDefault backfill —
    restarting the clone's numbering would give post-clone writes
    directory versions BELOW the inherited intro versions and
    backfill their genuine NULLs. The clone carries every folded
    metadata key, per-directory stats and live DVs with their targets
    — reads of the clone are immediately identical to the source
    snapshot. Cost is
    metadata-only (one link per file), measured in
    scripts/table_probe.py."""
    st = _table_state(_read_state_commits(src))
    if os.path.isdir(os.path.join(dst, _COMMITS)):
        raise ValueError(f"clone target {dst!r} already has a commit log")

    def _link_dir(rel: str) -> None:
        s_dir = os.path.join(src, rel)
        d_dir = os.path.join(dst, rel)
        os.makedirs(d_dir, exist_ok=True)
        for f in os.listdir(s_dir):
            sf = os.path.join(s_dir, f)
            if os.path.isfile(sf):
                os.link(sf, os.path.join(d_dir, f))

    for rel in st.live + st.dvs:
        _link_dir(rel)
    entry = {
        "version": st.version, "operation": "clone",
        "cloned_from": src,
        "cloned_version": st.version,
        "added": list(st.live), "removed": [],
        **{k: v for k, v in st.meta.items() if v},
    }
    if st.dvs:
        entry["dv_added"] = list(st.dvs)
        entry["dv_rows"] = st.dv_rows or 0
    if st.dv_targets:
        entry["dv_targets"] = st.dv_targets
    stats = {d: s for d, s in st.stats.items() if s}
    if stats:
        entry["stats"] = stats
    return _publish(dst, entry)


def table_changes(
    spark: SparkSession,
    path: str,
    v_from: int | None = None,
    v_to: int | None = None,
    key_cols: list[str] | None = None,
    include_preimages: bool = False,
    ts_from: float | None = None,
    ts_to: float | None = None,
) -> DataFrame:
    """Snapshot CDC: the row-level diff between two committed versions
    as a DataFrame with the table's columns plus `_change_type` in
    ('insert', 'update', 'delete'). Inserts/updates carry the v_to
    image, deletes the v_from image. Computed as ONE null-safe
    full-outer join on the key columns (_diff_join) — no changelog
    is stored, so this works across ANY version pair (including spans
    that contain compactions, which diff to zero rows). Requires both
    snapshots to be key-unique, which create/merge/delete lifecycles
    guarantee; duplicate keys would multiply join matches. Schema
    evolution only ADDS columns, so the older side reads NULL in the
    columns the newer one added: a pre-evolution row diffs as an
    UPDATE when the added column gained a value.

    `include_preimages=True` switches updates to the Delta-complete
    PAIR — 'update_preimage' (v_from image) + 'update_postimage'
    (v_to image) — which is what an incremental consumer needs to
    RETRACT the old contribution (qmv2's maintenance feed); the
    default single post-image 'update' row is the compact display
    form.

    `ts_from`/`ts_to` (Delta's startingTimestamp / endingTimestamp
    CDF addressing): unix-seconds instants instead of versions; each
    resolves to the newest version committed AT OR BEFORE that
    instant (version_as_of). Exactly one of (v_from, ts_from) and one
    of (v_to, ts_to) must be given."""
    from pyspark.sql import functions as F

    if key_cols is None:
        raise ValueError("table_changes requires key_cols")
    if (v_from is None) == (ts_from is None):
        raise ValueError("pass exactly one of v_from / ts_from")
    if (v_to is None) == (ts_to is None):
        raise ValueError("pass exactly one of v_to / ts_to")
    if ts_from is not None:
        v_from = version_as_of(path, ts_from)
    if ts_to is not None:
        v_to = version_as_of(path, ts_to)
    a = read_table(spark, path, v_from)
    b = read_table(spark, path, v_to)
    # a rename between the versions would make the same physical
    # column look dropped-and-added (every row a spurious update) —
    # refuse rather than mislead; diff within one mapping epoch
    if (_table_state(_read_commits(path, v_from)).meta["column_map"]
            != _table_state(_read_commits(path, v_to)).meta["column_map"]):
        raise ValueError(
            "table_changes: the column mapping changed between "
            f"versions {v_from} and {v_to} (rename/drop is "
            "metadata-only); diff within one mapping epoch instead"
        )
    older, newer = (a, b) if v_to >= v_from else (b, a)
    gone = set(older.columns) - set(newer.columns)
    if gone:
        raise ValueError(
            f"table_changes: column(s) {sorted(gone)} were dropped "
            f"between versions {v_from} and {v_to}; a drop is "
            "metadata-only and would surface as spurious updates — "
            "diff within one mapping epoch instead"
        )
    wider = b if len(b.columns) >= len(a.columns) else a
    cols = wider.columns
    j, same = _diff_join(a, b, key_cols, wider.schema.fields)
    if include_preimages:
        return _emit_change_pairs(j, cols, same)
    change = (
        F.when(F.col("_in_a").isNull(), F.lit("insert"))
        .when(F.col("_in_b").isNull(), F.lit("delete"))
        .when(same, F.lit(None).cast("string"))
        .otherwise(F.lit("update"))
    )
    out = [
        F.when(change == "delete", F.col(f"_a_{c}"))
        .otherwise(F.col(f"_b_{c}"))
        .alias(c)
        for c in cols
    ]
    return (
        j.withColumn("_change_type", change)
        .filter(F.col("_change_type").isNotNull())
        .select(*out, "_change_type")
    )


def commit_with_retry(fn, attempts: int = 8, backoff: float = 0.05):
    """Run `fn` (a zero-arg commit attempt — e.g. `lambda:
    merge_upsert(...)`) under the optimistic-concurrency protocol the
    module documents: on ConcurrentWriteError, sleep an exponential
    pid-jittered backoff and call `fn` again — each writer function
    re-reads the log on entry, so the retry automatically rebases onto
    the winner's commit. Bounded at `attempts` tries (the last
    ConcurrentWriteError propagates), so sustained contention surfaces
    instead of spinning. Returns whatever `fn` returns. Every
    multi-writer caller should wrap commits in it rather than
    hand-roll the re-read-and-retry loop (the metadata commands run
    their attempts through it); the two-process race itself is
    exercised in
    tests/test_capabilities.py::test_commit_log_two_process_race."""
    import time

    # deterministic per-process jitter: racing writers back off by
    # different amounts without driver-side randomness
    jitter = 1.0 + (os.getpid() % 97) / 97.0
    last: ConcurrentWriteError | None = None
    for attempt in range(max(int(attempts), 1)):
        try:
            return fn()
        except ConcurrentWriteError as e:
            last = e
            if attempt < attempts - 1:
                time.sleep(backoff * (2 ** attempt) * jitter)
    raise last


def latest_txn_version(path: str, app_id: str) -> int | None:
    """Highest transaction version committed for `app_id`, or None.
    Driver-side fold over the commit log — checkpoint-accelerated
    (O(tail) with a log checkpoint; the synthetic checkpoint commit
    carries the folded per-app `txn_watermarks` map)."""
    best = None
    for c in _read_state_commits(path):
        w = c.get("txn_watermarks", {}).get(app_id)
        if w is not None and (best is None or int(w) > best):
            best = int(w)
        t = c.get("txn")
        if t and t.get("app") == app_id:
            v = int(t["version"])
            best = v if best is None or v > best else best
    return best


def txn_append(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    app_id: str,
    txn_version: int,
    stats_cols: list[str] | None = None,
    create_ok: bool = False,
) -> int | None:
    """Idempotent append: commits `df` tagged {app_id, txn_version}
    and SKIPS (returns None) when a commit with the same app_id and a
    >= txn_version already exists — the Delta txnAppId/txnVersion
    protocol that makes foreachBatch exactly-once: a replayed epoch
    re-offers the same txn_version and is refused without reading the
    data. The skip-check and the version claim are not one atomic
    step, but the claim IS atomic (`_publish`): a lost race rebases
    in place like append (_publish_append), re-running the skip-check
    first, so a race lost to this epoch's own duplicate skips and no
    path double-commits an epoch. The batch must match the table
    schema (no evolution), re-checked on every rebase. Empty batches
    commit a data-less entry so the txn watermark still advances.
    `create_ok` bootstraps the table on the first batch."""
    txn = {"app": app_id, "version": int(txn_version)}
    if create_ok and not table_versions(path):
        try:
            rel, stats = _write_data(df, path, 1, stats_cols)
            return _publish(path, {**_create_entry(df.schema, rel, stats),
                                   "txn": txn})
        except ConcurrentWriteError:
            pass  # someone else created it: fall through to txn check

    def seen() -> bool:
        v = latest_txn_version(path, app_id)
        return v is not None and v >= int(txn_version)

    if seen():
        return None
    commits = _read_state_commits(path)
    st = _table_state(commits)
    df = _fill_generated(_fill_defaults(df, st.meta), st.meta)
    _evolution_gate(st.meta, df, False, "txn_append")
    gate = _table_gate(st.meta)
    cmap = st.meta["column_map"]
    rel, stats = _write_data(
        df, path, st.version + 1, stats_cols, check=gate,
        column_map=cmap, drop_if_empty=True,
        bloom_cols=_bloom_cols_logical(st.stats, cmap))

    def fields(meta: dict, version: int) -> dict:
        # a concurrent evolution must not be bypassed by a blind
        # rebase: the written batch has the OLD shape; the caller's
        # retry re-runs txn_append against the evolved table
        _evolution_gate(meta, df, False, "txn_append")
        return {"operation": "txn_append", "txn": txn}

    return _publish_append(
        spark, path, commits, rel, stats, fields, gate, skip=seen)


def exactly_once_sink(
    path: str,
    app_id: str,
    stats_cols: list[str] | None = None,
):
    """`writeStream.foreachBatch(exactly_once_sink(path, app))`:
    each micro-batch becomes one idempotent txn_append keyed by the
    epoch id, so a batch replayed after a failure (the foreachBatch
    at-least-once contract) is skipped instead of duplicated —
    end-to-end exactly-once into the commit-log table. Retries the
    claim through `commit_with_retry` — bounded attempts with
    exponential backoff, not an unthrottled spin — and each retry's
    txn_append re-runs the latest_txn_version skip-check BEFORE
    rewriting any data, so a race lost to this very epoch's duplicate
    skips without re-materializing the batch; only races lost to
    other writers' commits pay a rewrite, and only up to the attempt
    cap (orphan directories from lost attempts are invisible to
    readers and reclaimed by vacuum)."""

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        commit_with_retry(
            lambda: txn_append(
                batch_df.sparkSession, path, batch_df, app_id,
                int(epoch_id), stats_cols=stats_cols, create_ok=True,
            )
        )

    return _write


def vacuum(
    path: str,
    keep_versions: int = 1,
    retain_seconds: float | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Reclaim data directories no snapshot in the retention window
    can reach: keep everything live at any of the newest
    `keep_versions` versions; delete data dirs that are BOTH delisted
    before the window AND not referenced inside it. Time travel to
    versions older than the window stops working (their commit JSONs
    remain as provenance; reads raise on the missing dirs) — the same
    trade Delta's VACUUM makes, so the default keeps only the current
    version reachable, explicitly.

    `retain_seconds` WIDENS the window by publish time (Delta's
    RETAIN n HOURS): every version committed within the last
    `retain_seconds` stays reachable too, whatever keep_versions
    says — the guard that keeps a long-running reader's pinned
    snapshot alive as long as the pin is younger than the retention.
    `dry_run=True` returns what WOULD be reclaimed without touching
    the filesystem (Delta's VACUUM DRY RUN).

    Single-writer discipline applies: run vacuum from the (one)
    writer, never concurrently with a reader that pinned a snapshot
    older than the window — a pinned DataFrame holds paths, not locks.
    Returns the deleted relative paths. Orphan dirs from crashed
    writers (data written, commit never published) are also removed:
    they are invisible to every reader by construction."""
    import shutil
    import time

    versions = table_versions(path)
    if not versions:
        raise FileNotFoundError(f"no commit-log table at {path}")
    keep = versions[-max(keep_versions, 1):]
    if retain_seconds is not None:
        cutoff = time.time() - float(retain_seconds)
        recent = [
            int(c["version"])
            for c in _read_commits(path, None)
            if float(c.get("committed_at", 0.0)) >= cutoff
        ]
        keep = sorted(set(keep) | set(recent))
    reachable: set[str] = set()
    for v in keep:
        st = _table_state(_read_commits(path, v))
        reachable.update(st.live)
        reachable.update(st.dvs)
    ever: set[str] = set()
    keep_set = set(keep)
    for c in _read_commits(path, None):
        ever.update(c.get("added", []))
        ever.update(c.get("dv_added", []))
        # CDF sidecars belong to their COMMIT, not the live state:
        # retained while their version is in the kept window (a CDF
        # stream replaying the window still finds them), reclaimed
        # with the history past it
        ever.update(c.get("cdc", []))
        if int(c["version"]) in keep_set:
            reachable.update(c.get("cdc", []))
    on_disk: set[str] = set()
    for root in (_DATA, _DV, _CDC):
        full_root = os.path.join(path, root)
        if os.path.isdir(full_root):
            on_disk.update(
                os.path.join(root, d) for d in os.listdir(full_root)
            )
    # a clustered compact registers SUBDIRS of one write (e.g.
    # data/vN-x/_bucket=3) as separate relpaths, so a top-level dir is
    # an orphan only if NO committed relpath lives at or under it
    def _under(top: str, among: set[str]) -> bool:
        sep = top + os.sep
        return any(e == top or e.startswith(sep) for e in among)

    orphans = {d for d in on_disk if not _under(d, ever)}
    # committed-but-unreachable ∪ orphaned-on-disk
    doomed = sorted((ever - reachable) | orphans)
    if dry_run:
        return doomed
    for rel in doomed:
        shutil.rmtree(os.path.join(path, rel), ignore_errors=True)
    # clustered-write SHELLS: after every _bucket= relpath of a
    # clustered compact is reclaimed, the parent directory still holds
    # Spark's job markers (_SUCCESS, .crc) — rmdir alone fails and the
    # shell's relpaths stay in `ever`, so it would leak forever. Sweep
    # the data root: any top-level dir with no REACHABLE relpath
    # at/under it whose remaining entries are all marker files gets
    # the markers stripped and the dir removed — this also reclaims
    # shells leaked by earlier vacuums.
    data_root = os.path.join(path, _DATA)
    for d in (os.listdir(data_root) if os.path.isdir(data_root) else []):
        rel = os.path.join(_DATA, d)
        full = os.path.join(path, rel)
        if not os.path.isdir(full) or _under(rel, reachable):
            continue
        entries = os.listdir(full)
        if all(
            e.startswith(("_", ".")) and os.path.isfile(os.path.join(full, e))
            for e in entries
        ):
            for e in entries:
                os.unlink(os.path.join(full, e))
            try:
                os.rmdir(full)
            except OSError:
                pass
    return doomed
