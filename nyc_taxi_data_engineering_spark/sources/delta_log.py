"""Minimal Delta Lake transaction log — the real protocol, pure Python.

The image has no delta-spark jars, but the Delta transaction-log
PROTOCOL is public and simple: a table is parquet data files plus a
``_delta_log/`` directory of JSON commits, each a list of actions
(``protocol``, ``metaData``, ``add``, ``remove``, ``commitInfo``) one
per line, named ``<version:020d>.json``. This module implements the
subset the reference uses (reference ``DeltaOP/delta_time_travel.py:
14-19``, ``DeltaOP/delta_audit_read.py:19``, ``glue_jobs/
scd2_delta_vendors.py:143-155``): versioned overwrite/append commits,
snapshot reads, ``versionAsOf`` time travel, and history — producing a
log layout that real delta-spark readers understand for these basic
actions (minReaderVersion=1: no deletion vectors, no column mapping).

Scale notes:
- Data files are written by Spark (parallel, one file per task) and
  promoted into the table root by a driver-side rename — rename count
  equals file count, a metadata-only O(files) step, the same contract
  a real Delta commit has. The JSON commit is one small driver-side
  file append; readers replay the log (O(total actions)) and then
  scan ONLY the active files — time travel never copies data.
- Parquet CHECKPOINTS (since round 5): every ``CHECKPOINT_INTERVAL``
  commits the replayed state snapshots to
  ``<version>.checkpoint.parquet`` and ``_last_checkpoint`` points at
  it (the real protocol's layout); readers start from the newest
  checkpoint at-or-before their target version and replay only the
  JSON commits after it, so replay cost is O(interval), not O(table
  age). JSON commits are retained, so time travel BEFORE the
  checkpoint still replays from version 0.
- Commit CONFLICTS: version files are published with an atomic
  hard-link create (content fsync'd first — a crash between publish
  and flush can't leave a visible-but-empty commit) — two writers
  racing to the same version see exactly one winner; the loser's
  already-promoted data files are rolled back (deleted) so no orphans
  accumulate.
- PARTITIONED tables (since round 6): ``write_delta(partition_by=…)``
  writes Hive-layout ``col=value/`` files, records
  ``partitionColumns`` in metaData and per-file ``partitionValues`` in
  add actions (delta-spark's exact conventions), and
  ``read_delta_log(predicates=…)`` prunes partitions EXACTLY from the
  log before consulting min/max stats — a date-sliced read of a
  years-deep table lists O(slice) files without touching storage.
- Single-writer windows: ``vacuum_delta`` assumes no write is
  mid-promotion while it runs (a concurrent writer's just-promoted,
  not-yet-committed files would look unreferenced and be deleted) —
  the same single-vacuum operational assumption real Delta makes.
  Everything else (concurrent writes, reads during writes) is safe
  under the put-if-absent commit.
"""

from __future__ import annotations

import base64
import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

LOG_DIR = "_delta_log"
PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}
CHECKPOINT_INTERVAL = 10  # commits per checkpoint — Delta's default cadence
APPEND_COMMIT_RETRIES = 5  # version-race retries for blind appends
CONSTRAINT_PREFIX = "delta.constraints."  # table-configuration key prefix
# CHECK constraints require writer protocol 3 (the delta spec's
# writerVersion gate for invariants/constraints)
CONSTRAINT_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 3}


def _constraints(config: dict) -> dict[str, str]:
    """name -> SQL expression for every CHECK constraint in a table
    configuration dict."""
    return {
        k[len(CONSTRAINT_PREFIX):]: v
        for k, v in (config or {}).items()
        if k.startswith(CONSTRAINT_PREFIX)
    }

# Checkpoint row layout: one action per row, exactly one of the three
# columns non-null — the real checkpoint's column shape, minus the
# always-empty format.options map. partitionValues and the metaData
# configuration (which carries CHECK constraints) are the protocol's
# map<string,string>.
_CP_SCHEMA = pa.schema(
    [
        pa.field(
            "protocol",
            pa.struct(
                [
                    ("minReaderVersion", pa.int32()),
                    ("minWriterVersion", pa.int32()),
                    ("readerFeatures", pa.list_(pa.string())),
                    ("writerFeatures", pa.list_(pa.string())),
                ]
            ),
        ),
        pa.field(
            "metaData",
            pa.struct(
                [
                    ("id", pa.string()),
                    ("format", pa.struct([("provider", pa.string())])),
                    ("schemaString", pa.string()),
                    ("partitionColumns", pa.list_(pa.string())),
                    ("configuration", pa.map_(pa.string(), pa.string())),
                    ("createdTime", pa.int64()),
                ]
            ),
        ),
        pa.field(
            "add",
            pa.struct(
                [
                    ("path", pa.string()),
                    ("partitionValues", pa.map_(pa.string(), pa.string())),
                    ("size", pa.int64()),
                    ("modificationTime", pa.int64()),
                    ("dataChange", pa.bool_()),
                    ("stats", pa.string()),
                    (
                        "deletionVector",
                        pa.struct(
                            [
                                ("storageType", pa.string()),
                                ("pathOrInlineDv", pa.string()),
                                ("sizeInBytes", pa.int32()),
                                ("cardinality", pa.int64()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
        pa.field(
            "txn",
            pa.struct(
                [
                    ("appId", pa.string()),
                    ("version", pa.int64()),
                    ("lastUpdated", pa.int64()),
                ]
            ),
        ),
    ]
)


class DeltaLogError(RuntimeError):
    pass


def _log_dir(table_path: str) -> str:
    return os.path.join(table_path, LOG_DIR)


def _commit_path(table_path: str, version: int) -> str:
    return os.path.join(_log_dir(table_path), f"{version:020d}.json")


def latest_version(table_path: str) -> int | None:
    """Highest committed version, or None for a non-Delta directory."""
    d = _log_dir(table_path)
    if not os.path.isdir(d):
        return None
    versions = [
        int(f[:-5]) for f in os.listdir(d) if f.endswith(".json") and f[:-5].isdigit()
    ]
    return max(versions) if versions else None


def _read_commit(table_path: str, version: int) -> list[dict]:
    with open(_commit_path(table_path, version)) as f:
        return [json.loads(line) for line in f if line.strip()]


def _last_checkpoint_path(table_path: str) -> str:
    return os.path.join(_log_dir(table_path), "_last_checkpoint")


def _read_last_checkpoint(table_path: str) -> int | None:
    try:
        with open(_last_checkpoint_path(table_path)) as f:
            return int(json.load(f)["version"])
    except FileNotFoundError:
        return None


def _replay_state(
    table_path: str, version_as_of: int | None = None
) -> dict:
    """Replay to ``version_as_of`` (inclusive; latest if None) →
    ``{"version", "adds" (path -> add action), "metaData" (action
    dict), "protocol", "txns" (appId -> highest committed txn
    version)}``. Starts from the newest checkpoint at or before the
    target version when one exists (O(interval) JSON reads instead of
    O(table age)); targets BEFORE the checkpoint replay the retained
    JSON commits from version 0."""
    latest = latest_version(table_path)
    if latest is None:
        raise DeltaLogError(f"not a Delta table (no {LOG_DIR}): {table_path}")
    upto = latest if version_as_of is None else version_as_of
    if upto > latest or upto < 0:
        raise DeltaLogError(
            f"versionAsOf {upto} out of range [0, {latest}] for {table_path}"
        )
    adds: dict[str, dict] = {}
    meta: dict | None = None
    protocol: dict | None = None
    txns: dict[str, int] = {}
    start = 0
    cp = _read_last_checkpoint(table_path)
    if cp is not None and cp <= upto:
        cp_file = os.path.join(_log_dir(table_path), f"{cp:020d}.checkpoint.parquet")
        for row in pq.read_table(cp_file).to_pylist():
            if row.get("protocol") is not None:
                protocol = row["protocol"]
            elif row.get("metaData") is not None:
                meta = dict(row["metaData"])
                # configuration comes back as a list of (k, v) pairs
                # (pyarrow map rendering) — restore the dict; it may
                # carry delta.constraints.* entries
                cfg = meta.get("configuration")
                meta["configuration"] = dict(cfg) if cfg else {}
            elif row.get("add") is not None:
                a = dict(row["add"])
                # pyarrow renders map<string,string> as a list of
                # (key, value) pairs in to_pylist — restore the dict.
                pv = a.get("partitionValues")
                a["partitionValues"] = dict(pv) if pv else {}
                adds[a["path"]] = a
            elif row.get("txn") is not None:
                txns[row["txn"]["appId"]] = row["txn"]["version"]
        start = cp + 1
    for v in range(start, upto + 1):
        for action in _read_commit(table_path, v):
            if "metaData" in action:
                meta = action["metaData"]
            elif "protocol" in action:
                protocol = action["protocol"]
            elif "add" in action:
                adds[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                adds.pop(action["remove"]["path"], None)
            elif "txn" in action:
                t = action["txn"]
                txns[t["appId"]] = max(t["version"], txns.get(t["appId"], -1))
    if meta is None:
        raise DeltaLogError(f"no metaData action in log of {table_path}")
    return {
        "version": upto,
        "adds": adds,
        "metaData": meta,
        "protocol": protocol,
        "txns": txns,
    }


def _replay(table_path: str, version_as_of: int | None = None) -> tuple[list[str], StructType]:
    """Replay → (active data file paths, schema)."""
    state = _replay_state(table_path, version_as_of)
    schema = StructType.fromJson(json.loads(state["metaData"]["schemaString"]))
    return [os.path.join(table_path, p) for p in state["adds"]], schema


def write_checkpoint(table_path: str, version: int | None = None) -> str:
    """Snapshot the replayed state at ``version`` (latest if None) to
    ``<version>.checkpoint.parquet`` and point ``_last_checkpoint`` at
    it. One row per live action (protocol, metaData, every active
    add). Returns the checkpoint file path."""
    state = _replay_state(table_path, version)
    v = state["version"]
    rows: list[dict] = []
    if state["protocol"] is not None:
        rows.append({"protocol": state["protocol"]})
    m = state["metaData"]
    rows.append(
        {
            "metaData": {
                "id": m.get("id"),
                "format": {"provider": m.get("format", {}).get("provider", "parquet")},
                "schemaString": m.get("schemaString"),
                "partitionColumns": m.get("partitionColumns", []),
                "configuration": sorted((m.get("configuration") or {}).items()),
                "createdTime": m.get("createdTime"),
            }
        }
    )
    for a in state["adds"].values():
        rows.append(
            {
                "add": {
                    "path": a["path"],
                    "partitionValues": sorted((a.get("partitionValues") or {}).items()),
                    "size": a.get("size"),
                    "modificationTime": a.get("modificationTime"),
                    "dataChange": a.get("dataChange", True),
                    "stats": a.get("stats"),
                    "deletionVector": a.get("deletionVector"),
                }
            }
        )
    for app_id, t_ver in sorted(state["txns"].items()):
        rows.append({"txn": {"appId": app_id, "version": t_ver, "lastUpdated": None}})
    cp_file = os.path.join(_log_dir(table_path), f"{v:020d}.checkpoint.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=_CP_SCHEMA), cp_file)
    tmp = _last_checkpoint_path(table_path) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"version": v, "size": len(rows)}, f)
    os.replace(tmp, _last_checkpoint_path(table_path))
    return cp_file


def _maybe_checkpoint(table_path: str, version: int) -> None:
    if version > 0 and version % CHECKPOINT_INTERVAL == 0:
        write_checkpoint(table_path, version)


_SKIP_OPS = ("==", "=", ">=", "<=", ">", "<")
# null-test ops prune off the stats' nullCount/numRecords instead of
# min/max; the predicate value is ignored (pass None)
_NULL_OPS = ("is_null", "not_null")


def _coerce_bounds(lo, hi, val):
    """Coerce one predicate value and a file's (min, max) stat pair
    into a mutually comparable triple, or None when no safe comparison
    exists (cross-type — the caller must keep the file, preserving the
    'skipping is always conservative' contract). Handles the stats
    JSON's string encodings: Decimal stats round-trip through
    ``str(Decimal)`` and are parsed back when the predicate value is
    numeric; date/datetime predicate values are ISO-encoded to match
    their stored form (ISO strings order lexicographically)."""
    import datetime
    import decimal

    if isinstance(val, (datetime.date, datetime.datetime)):
        val = val.isoformat()
    if isinstance(val, bool) or val is None:
        return None  # bool/null bounds are never stored — keep the file
    if isinstance(val, (int, float, decimal.Decimal)):
        if isinstance(lo, bool) or isinstance(hi, bool):
            return None
        if isinstance(lo, (int, float)) and isinstance(hi, (int, float)):
            return lo, hi, val
        if isinstance(lo, str) and isinstance(hi, str):
            # decimal column: stats were encoded via str(Decimal)
            try:
                return (
                    decimal.Decimal(lo),
                    decimal.Decimal(hi),
                    decimal.Decimal(str(val)),
                )
            except decimal.InvalidOperation:
                return None
        return None
    if isinstance(val, str) and isinstance(lo, str) and isinstance(hi, str):
        return lo, hi, val
    return None


def _bounds_admit(lo, hi, op, val) -> bool:
    """True unless [lo, hi] PROVES no row satisfies ``op val``."""
    coerced = _coerce_bounds(lo, hi, val)
    if coerced is None:
        return True  # cross-type / unsupported — conservative keep
    lo, hi, val = coerced
    try:
        if op in ("==", "="):
            return lo <= val <= hi
        if op == ">=":
            return hi >= val
        if op == ">":
            return hi > val
        if op == "<=":
            return lo <= val
        return lo < val  # op == "<"
    except TypeError:
        return True  # incomparable despite coercion — conservative keep


def _file_survives(add: dict, predicates: list[tuple]) -> bool:
    """File-level data skipping off the add action's ``stats`` JSON:
    False only when the stats PROVE no row can satisfy every predicate
    (min/max disjoint from the predicate range). Missing stats or
    columns keep the file — skipping is always conservative (any
    cross-type comparison keeps the file rather than raising)."""
    raw = add.get("stats")
    if not raw:
        return True
    try:
        stats = json.loads(raw)
    except (TypeError, ValueError):
        return True
    if stats.get("numRecords") == 0:
        return False  # an empty data file can satisfy nothing
    mins, maxs = stats.get("minValues", {}), stats.get("maxValues", {})
    nulls, n_rows = stats.get("nullCount", {}), stats.get("numRecords")
    for col, op, val in predicates:
        if op in _NULL_OPS:
            nc = nulls.get(col)
            if nc is None:
                continue  # no null stats for this column — keep the file
            if op == "is_null" and nc == 0:
                return False  # provably no NULLs here
            if op == "not_null" and n_rows is not None and nc == n_rows:
                return False  # provably ALL NULLs here
            continue
        if op not in _SKIP_OPS:
            raise DeltaLogError(
                f"unsupported skip op {op!r} (use one of {_SKIP_OPS + _NULL_OPS})"
            )
        lo, hi = mins.get(col), maxs.get(col)
        if lo is None or hi is None:
            continue
        if not _bounds_admit(lo, hi, op, val):
            return False
    return True


HIVE_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _partition_admits(raw: str | None, op: str, val) -> bool:
    """Partition-value pruning: unlike min/max stats the stored value
    is EXACT, so a predicate on a partition column either holds for
    every row in the file or for none. ``raw`` is the protocol's
    string encoding (from the add action's ``partitionValues``); it is
    parsed toward the predicate value's Python type. Null partitions
    (``__HIVE_DEFAULT_PARTITION__``) satisfy no comparison, matching
    SQL. A parse or comparison failure keeps the file (conservative)."""
    import datetime
    import decimal

    if raw is None:
        return True  # add action carries no value for this column
    if raw == HIVE_NULL_PARTITION:
        return False  # SQL comparison with NULL is never true
    pv: object = raw
    if isinstance(val, (datetime.date, datetime.datetime)):
        val = val.isoformat()  # ISO strings order like the dates
    elif isinstance(val, bool):
        pv = raw.lower() == "true"
    elif isinstance(val, int):
        try:
            pv = int(raw)
        except ValueError:
            return True
    elif isinstance(val, (float, decimal.Decimal)):
        try:
            pv = decimal.Decimal(raw)
            val = decimal.Decimal(str(val))
        except decimal.InvalidOperation:
            return True
    try:
        if op in ("==", "="):
            return pv == val
        if op == ">=":
            return pv >= val
        if op == ">":
            return pv > val
        if op == "<=":
            return pv <= val
        return pv < val  # op == "<"
    except TypeError:
        return True


def read_delta_log(
    spark: SparkSession,
    table_path: str,
    version_as_of: int | None = None,
    predicates: list[tuple] | None = None,
) -> DataFrame:
    """Snapshot / time-travel read (S3/S4): replay the log, scan only
    the active files with the committed schema. An empty snapshot
    (everything removed) yields an empty DataFrame with the schema.

    ``predicates`` — optional ``[(column, op, value), ...]`` conjuncts
    (op ∈ ==/=/>=/<=/>/<) — enable FILE-LEVEL DATA SKIPPING off the
    per-file min/max stats in the add actions: files whose stats prove
    they hold no matching row are dropped before Spark ever lists
    them. This is the log-level half of Delta's data skipping; the
    caller still applies the row-level filter (Spark then also prunes
    row groups via parquet footer pushdown). At 100 TB, a selective
    predicate on a range-clustered column turns a full-table listing
    into a handful of files — the same reason real Delta stores stats
    per add action. Values compare in JSON space: numbers for numeric
    columns, ISO strings for dates/timestamps; native date/datetime/
    Decimal predicate values are normalized to that encoding, and any
    cross-type comparison conservatively keeps the file.

    On a PARTITIONED table (write_delta ``partition_by``), predicates
    on partition columns prune EXACTLY off the add actions'
    ``partitionValues`` — before file stats are even consulted — and
    partition columns are reconstructed into the result via Spark's
    ``basePath`` partition discovery with the committed schema."""
    state = _replay_state(table_path, version_as_of)
    schema = StructType.fromJson(json.loads(state["metaData"]["schemaString"]))
    part_cols = state["metaData"].get("partitionColumns") or []
    adds = list(state["adds"].values())
    if predicates:
        part_preds = [p for p in predicates if p[0] in part_cols]
        stat_preds = [p for p in predicates if p[0] not in part_cols]
        for col, op, val in part_preds:
            if op in _NULL_OPS:
                # null partitions encode as the Hive sentinel; a file
                # with NO recorded value for the column is kept either
                # way (conservative)
                adds = [
                    a
                    for a in adds
                    if (pv := (a.get("partitionValues") or {}).get(col)) is None
                    or (pv == HIVE_NULL_PARTITION) == (op == "is_null")
                ]
                continue
            if op not in _SKIP_OPS:
                raise DeltaLogError(
                    f"unsupported skip op {op!r} (use one of {_SKIP_OPS + _NULL_OPS})"
                )
            adds = [
                a
                for a in adds
                if _partition_admits((a.get("partitionValues") or {}).get(col), op, val)
            ]
        if stat_preds:
            if _cm_enabled(state["metaData"]):
                # footer stats are keyed by PHYSICAL column names
                phys = {f.name: _physical_name(f) for f in schema.fields}
                stat_preds = [(phys.get(c, c), op, v) for c, op, v in stat_preds]
            adds = [a for a in adds if _file_survives(a, stat_preds)]
    mapped = _cm_enabled(state["metaData"])
    read_schema = _physical_schema(schema) if mapped else schema
    dv_adds = [a for a in adds if a.get("deletionVector")]
    plain_adds = [a for a in adds if not a.get("deletionVector")]
    if dv_adds and part_cols and mapped:
        raise DeltaLogError(
            "deletion vectors on a partitioned AND column-mapped table are unsupported"
        )
    cols = [f.name for f in schema.fields]
    parts: list[DataFrame] = []
    if plain_adds:
        files = [os.path.join(table_path, a["path"]) for a in plain_adds]
        reader = spark.read.schema(read_schema)
        if part_cols:
            # partition columns live in the directory names, not the
            # data files; basePath + the committed schema makes Spark
            # rebuild them with the committed types. Discovery appends
            # them at the end, so re-project to the committed order.
            reader = reader.option("basePath", table_path)
            parts.append(reader.parquet(*files).select(*cols))
        elif mapped:
            # column-mapped table: files store PHYSICAL names; project
            # back to the logical schema (renames/drops are metadata)
            parts.append(_to_logical(reader.parquet(*files), schema))
        else:
            parts.append(reader.parquet(*files))
    if dv_adds:
        # One scan of every DV'd file + one broadcast ANTI join against
        # the decoded (file, row_index) tombstones — the deleted-row
        # filter the protocol's readers apply. Tombstone volume is the
        # DVs' total cardinality (already driver-resident: the inline
        # descriptors came FROM the log), so the anti join's build side
        # is bounded by what the log itself holds.
        files = [os.path.join(table_path, a["path"]) for a in dv_adds]
        # tombstones key by the table-relative path (partition dirs +
        # filename) — basenames are NOT unique across partition dirs
        tombs = [
            (a["path"], int(i))
            for a in dv_adds
            for i in _decode_dv(a["deletionVector"])
        ]
        tdf = spark.createDataFrame(tombs, "f string, i long")
        reader = spark.read.schema(read_schema)
        if part_cols:
            reader = reader.option("basePath", table_path)
        scan = reader.parquet(*files).select(
            "*",
            _rel_path_col(len(part_cols)).alias("f"),
            F.col("_metadata.row_index").alias("i"),
        )
        live = scan.join(F.broadcast(tdf), ["f", "i"], "left_anti")
        parts.append(_to_logical(live, schema) if mapped else live.select(*cols))
    if not parts:
        return spark.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def delta_log_history(table_path: str) -> list[dict]:
    """S5: one record per commit (newest first), from commitInfo."""
    latest = latest_version(table_path)
    if latest is None:
        raise DeltaLogError(f"not a Delta table: {table_path}")
    out = []
    for v in range(latest, -1, -1):
        info = next(
            (a["commitInfo"] for a in _read_commit(table_path, v) if "commitInfo" in a),
            {},
        )
        out.append({"version": v, **info})
    return out


def commit_data_change(table_path: str, version: int) -> bool:
    """Whether a commit actually changed table DATA: true iff any of
    its add/remove actions carries ``dataChange`` true (the protocol
    default when absent). Distinguishes rearrangement-only commits
    (OPTIMIZE/compaction, dataChange:false) from real writes — the bit
    change-feed consumers key off."""
    return any(
        a[k].get("dataChange", True)
        for a in _read_commit(table_path, version)
        for k in ("add", "remove")
        if k in a
    )


def _json_stat(v):
    """JSON-encode one parquet min/max statistic; None for types the
    stats schema doesn't carry (bytes, nested)."""
    import datetime
    import decimal

    if isinstance(v, bool) or v is None:
        return None  # parquet bool stats are not useful skip bounds
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    return None


def _file_stats(path: str) -> str | None:
    """Delta ``stats`` JSON for one data file from its parquet FOOTER
    (metadata-only read — no data pages): numRecords plus per-column
    min/max/nullCount for primitive columns, the inputs of file-level
    data skipping. Columns without usable footer stats (nested types,
    bytes, missing stats) are simply absent — skipping stays
    conservative for them."""
    try:
        md = pq.ParquetFile(path).metadata
    except Exception:
        return None
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested field — out of scope for skipping
                continue
            st = col.statistics
            if st is None:
                continue
            # nullCount is independent of min/max: an ALL-NULL column
            # has no min/max but its null count is exactly what the
            # not_null skip needs
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            if _json_stat(lo) is None or _json_stat(hi) is None:
                continue
            # reduce on RAW values (Decimal/date compare correctly;
            # their string encodings would not), encode at the end
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    return json.dumps(
        {
            "numRecords": md.num_rows,
            "minValues": {k: _json_stat(v) for k, v in mins.items()},
            "maxValues": {k: _json_stat(v) for k, v in maxs.items()},
            "nullCount": nulls,
        },
        separators=(",", ":"),
    )


def _partition_values_from_path(rel_path: str) -> dict[str, str]:
    """Parse ``col=value`` directory components of a staged part
    file's relative path into the add action's ``partitionValues``
    (URL-unescaped, the protocol's string encoding; Spark writes the
    same Hive-style layout)."""
    from urllib.parse import unquote

    values: dict[str, str] = {}
    for comp in rel_path.split(os.sep)[:-1]:
        if "=" in comp:
            k, _, v = comp.partition("=")
            values[unquote(k)] = unquote(v)
    return values


def _promote_staged_files(staging: str, table_path: str) -> list[dict]:
    """Move Spark-written part files from the staging dir into the
    table root; return their add-action dicts (with footer-derived
    ``stats`` for data skipping). A partitioned write keeps its
    ``col=value/`` directory layout — the relative path (with
    forward-slash separators, per the protocol) becomes the add
    action's ``path`` and the directory components its
    ``partitionValues``. Part names carry a task UUID, so collisions
    are impossible."""
    adds = []
    staged: list[str] = []
    for root, _dirs, names in os.walk(staging):
        for name in names:
            if name.endswith(".parquet"):
                staged.append(os.path.relpath(os.path.join(root, name), staging))
    for rel in sorted(staged):
        src, dst = os.path.join(staging, rel), os.path.join(table_path, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.replace(src, dst)
        st = os.stat(dst)
        add = {
            "path": rel.replace(os.sep, "/"),
            "partitionValues": _partition_values_from_path(rel),
            "size": st.st_size,
            "modificationTime": int(st.st_mtime * 1000),
            "dataChange": True,
        }
        stats = _file_stats(dst)
        if stats is not None:
            add["stats"] = stats
        adds.append(add)
    return adds


def _write_commit(table_path: str, version: int, actions: list[dict]) -> None:
    """Publish commit ``version`` with an atomic create: the content is
    staged to a tmp file and hard-linked to the final name — link(2)
    fails with EEXIST if the version already exists, so two writers
    racing to the same version see exactly one winner AND readers never
    observe a partial commit file (put-if-absent, the Delta commit
    contract on a filesystem)."""
    os.makedirs(_log_dir(table_path), exist_ok=True)
    path = _commit_path(table_path, version)
    tmp = path + f".{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        for a in actions:
            f.write(json.dumps(a, separators=(",", ":")) + "\n")
        f.flush()
        os.fsync(f.fileno())  # commit content durable BEFORE it becomes visible
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise DeltaLogError(
            f"concurrent commit: version {version} already exists"
        ) from None
    finally:
        os.remove(tmp)


def _rollback_promoted(table_path: str, adds: list[dict]) -> None:
    """Delete data files promoted into the table root by a commit that
    then failed to publish (e.g. lost a version race) — without this,
    the loser's files sit unreferenced until a vacuum."""
    for a in adds:
        try:
            os.remove(os.path.join(table_path, a["path"]))
        except FileNotFoundError:
            pass


def last_txn_version(table_path: str, app_id: str) -> int | None:
    """Highest ``txn`` action version committed for ``app_id``, or
    None — the idempotent-writer handshake of the Delta protocol: a
    streaming sink records (appId, batchId) with each commit and skips
    any batch at-or-below this watermark on replay, making
    foreachBatch appends exactly-once across checkpoint recovery."""
    if latest_version(table_path) is None:
        return None
    return _replay_state(table_path)["txns"].get(app_id)


def write_delta(
    df: DataFrame,
    table_path: str,
    mode: str = "overwrite",
    operation: str = "WRITE",
    partition_by: list[str] | str | None = None,
    txn: tuple[str, int] | None = None,
    merge_schema: bool = False,
) -> int:
    """S9/S10: versioned Delta sink. ``overwrite`` commits remove
    actions for every previously-active file plus adds for the new
    ones (logical replace — old versions stay readable); ``append``
    commits adds only. The table id is minted at version 0 and REUSED
    by every later metaData re-emission — identity-tracking readers
    (streaming sources, catalogs) must not see an overwrite as a table
    recreation. Returns the committed version; on a lost version race
    the promoted files are rolled back and DeltaLogError raises.

    ``partition_by`` (the reference's Delta ``partitionBy`` surface,
    ``day7_enrichment_final.py:99-105`` / ``raw_to_validated_delta.py:
    41-46``) writes Hive-layout ``col=value/`` data files, records the
    columns in metaData ``partitionColumns`` and each file's values in
    its add action's ``partitionValues`` — exactly what delta-spark
    emits — so read_delta_log can prune whole partitions from the log
    alone. Appends to a partitioned table must repeat the same
    ``partition_by`` (or omit it to inherit); changing the
    partitioning of an existing table is rejected, as real Delta does.

    ``txn=(app_id, version)`` additionally commits a ``txn`` action —
    the protocol's idempotent-writer marker. Pair with
    :func:`last_txn_version` to make replayed streaming batches no-ops
    (see streaming/delta_ingest.py).

    Writes whose columns are a SUBSET of the table's (nullable columns
    omitted) are always accepted — Delta enforces compatibility, not
    equality — and leave the schema unchanged. ``merge_schema=True`` is
    delta-spark's ``mergeSchema`` option: new
    columns in ``df`` evolve the table schema (appended after the
    existing fields, always nullable — old files read them as NULL via
    the explicit-schema parquet read), and columns absent from ``df``
    stay in the schema (the new files read them as NULL, allowed only
    when the prior field is nullable). Same-name/different-type is
    rejected — this engine does no type widening, matching Delta's
    default. A schema-evolving commit re-emits metaData even on
    append, exactly as real writers do."""
    import shutil

    if mode not in ("overwrite", "append"):
        raise ValueError(f"write_delta mode must be overwrite|append, got {mode!r}")
    part_cols = (
        [partition_by] if isinstance(partition_by, str) else list(partition_by or [])
    )
    missing = [c for c in part_cols if c not in df.columns]
    if missing:
        raise DeltaLogError(f"partition_by columns not in DataFrame: {missing}")
    prior = latest_version(table_path)
    version = 0 if prior is None else prior + 1
    table_id = uuid.uuid4().hex
    evolved: StructType | None = None  # set when merge_schema unions new columns
    validated_meta: tuple | None = None
    prior_config: dict[str, str] = {}
    if prior is not None:
        prior_state = _replay_state(table_path)
        table_id = prior_state["metaData"].get("id", table_id)
        prior_parts = prior_state["metaData"].get("partitionColumns") or []
        prior_config = dict(prior_state["metaData"].get("configuration") or {})
        validated_meta = (
            prior_state["metaData"].get("schemaString", ""),
            tuple(prior_parts),
            tuple(sorted(prior_config.items())),
        )
        # CHECK constraints (delta.constraints.<name> in the table
        # configuration, the ALTER TABLE ADD CONSTRAINT surface):
        # every incoming row must satisfy every expression, with NULL
        # counting as a violation — real Delta's NOT (expr <=> true)
        # rule. One extra pass over df per write, the price real
        # writers pay too; fails BEFORE any file is staged.
        constraints = _constraints(prior_config)
        if constraints:
            # Subset writes read omitted columns back as NULL, so the
            # check runs over df padded to the table schema with NULLs
            # — a constraint on an omitted column then fails exactly
            # like the written data would.
            tbl_schema = StructType.fromJson(
                json.loads(prior_state["metaData"]["schemaString"])
            )
            check_df = df
            for fld in tbl_schema.fields:
                if fld.name not in df.columns:
                    check_df = check_df.withColumn(
                        fld.name, F.lit(None).cast(fld.dataType)
                    )
            for cname, cexpr in sorted(constraints.items()):
                bad = check_df.filter(~F.coalesce(F.expr(cexpr), F.lit(False))).take(1)
                if bad:
                    raise DeltaLogError(
                        f"CHECK constraint {cname!r} ({cexpr}) violated by "
                        f"incoming row {bad[0].asDict()}"
                    )
        # Generated columns (delta.generationExpression): compute when
        # the batch omits the column, validate (null-safe equality)
        # when it supplies one — the spec's writer obligations.
        gen_cols = _generated_columns(prior_state["metaData"])
        if gen_cols:
            tbl_schema = StructType.fromJson(
                json.loads(prior_state["metaData"]["schemaString"])
            )
            types = {f.name: f.dataType for f in tbl_schema.fields}
            for gname, gexpr in sorted(gen_cols.items()):
                if gname not in df.columns:
                    df = df.withColumn(gname, F.expr(gexpr).cast(types[gname]))
                else:
                    bad = df.filter(~F.col(gname).eqNullSafe(F.expr(gexpr))).take(1)
                    if bad:
                        raise DeltaLogError(
                            f"generated column {gname!r} must equal ({gexpr}); "
                            f"incoming row disagrees: {bad[0].asDict()}"
                        )
        if not part_cols and partition_by is None:
            part_cols = list(prior_parts)  # inherit the table's partitioning
        if part_cols != prior_parts:
            raise DeltaLogError(
                f"partitioning mismatch: table is partitioned by {prior_parts}, "
                f"write requested {part_cols}; repartitioning requires a new table"
            )
        prior_schema = StructType.fromJson(
            json.loads(prior_state["metaData"]["schemaString"])
        )
        # Compare names + types, not nullability: a parquet read-back
        # relaxes every field to nullable, and Delta treats that as the
        # same table schema (real writers do the same containment check).
        def _shape(s: StructType) -> list[tuple[str, str]]:
            return [(f.name, f.dataType.simpleString()) for f in s.fields]

        if _shape(prior_schema) != _shape(df.schema):
            prior_types = {f.name: f.dataType.simpleString() for f in prior_schema.fields}
            df_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
            clash = [
                n for n in df_types if n in prior_types and df_types[n] != prior_types[n]
            ]
            new_cols = [n for n in df_types if n not in prior_types]
            missing_required = [
                f.name
                for f in prior_schema.fields
                if f.name not in df_types and not f.nullable
            ]
            if clash:
                raise DeltaLogError(
                    f"cannot change column types on write (no widening): {clash}"
                )
            if missing_required:
                raise DeltaLogError(
                    "write omits non-nullable columns "
                    f"{missing_required}; they would read as NULL"
                )
            if new_cols and not merge_schema:
                raise DeltaLogError(
                    f"new columns {new_cols} need merge_schema=True to evolve the "
                    f"table (table={prior_schema.simpleString()}, "
                    f"df={df.schema.simpleString()})"
                )
            # A subset write (nullable columns omitted) is always legal —
            # real Delta enforces compatibility, not equality — and does
            # not change the table schema; only NEW columns evolve it.
            if new_cols:
                from pyspark.sql.types import StructField

                # Existing fields keep their declared nullability (real Delta
                # preserves it on evolution — erasing it would disarm the
                # missing_required check on every later write) AND their
                # field metadata (column-mapping ids/physical names live
                # there); only the APPENDED columns are forced nullable,
                # because prior files have no values for them and will read
                # back NULL. On a column-mapped table, new fields mint fresh
                # never-reused physical names and bump maxColumnId.
                appended = []
                if _cm_enabled({"configuration": prior_config}):
                    max_id = int(prior_config.get(CM_MAXID_KEY, "0"))
                    for f in df.schema.fields:
                        if f.name not in prior_types:
                            max_id += 1
                            md = dict(f.metadata or {})
                            md[_CM_ID] = max_id
                            md[_CM_PHYS] = f"col-{max_id}-{uuid.uuid4().hex[:8]}"
                            appended.append(StructField(f.name, f.dataType, True, md))
                    prior_config[CM_MAXID_KEY] = str(max_id)
                else:
                    appended = [
                        StructField(f.name, f.dataType, True)
                        for f in df.schema.fields
                        if f.name not in prior_types
                    ]
                evolved = StructType(
                    [
                        StructField(f.name, f.dataType, f.nullable, dict(f.metadata or {}))
                        for f in prior_schema.fields
                    ]
                    + appended
                )

    os.makedirs(table_path, exist_ok=True)
    staging = os.path.join(table_path, f".staging-{uuid.uuid4().hex}")
    stage_df = df
    if prior is not None and _cm_enabled({"configuration": prior_config}):
        # column-mapped table: data files store PHYSICAL names
        cm_schema = evolved or StructType.fromJson(
            json.loads(prior_state["metaData"]["schemaString"])
        )
        stage_df = _to_physical(df, cm_schema)
    writer = stage_df.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(staging)
    adds = _promote_staged_files(staging, table_path)
    shutil.rmtree(staging, ignore_errors=True)

    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": operation,
                "operationParameters": {"mode": mode.upper()},
            }
        }
    ]
    if txn is not None:
        actions.append(
            {"txn": {"appId": txn[0], "version": int(txn[1]), "lastUpdated": now_ms}}
        )
    if version == 0:
        actions.append({"protocol": dict(PROTOCOL)})
    if version == 0 or mode == "overwrite" or evolved is not None:
        # Delta re-emits metaData on REPLACE and on schema evolution;
        # cheap and keeps replay simple.
        actions.append(
            {
                "metaData": {
                    "id": table_id,
                    "format": {"provider": "parquet", "options": {}},
                    # column-mapped tables must keep the mapped schema
                    # (df.schema carries no mapping metadata); otherwise
                    # the incoming/evolved schema defines the table
                    "schemaString": (
                        evolved.json()
                        if evolved is not None
                        else (
                            prior_state["metaData"]["schemaString"]
                            if prior is not None
                            and _cm_enabled({"configuration": prior_config})
                            else df.schema.json()
                        )
                    ),
                    "partitionColumns": part_cols,
                    # configuration (incl. CHECK constraints) survives
                    # overwrites/evolution - dropping it would silently
                    # disarm every constraint on the first REPLACE
                    "configuration": prior_config,
                    "createdTime": now_ms,
                }
            }
        )
    if mode == "overwrite" and prior is not None:
        # remove paths must be the add actions' path strings VERBATIM
        # (replay cancels adds by exact key; relpath would corrupt the
        # absolute paths a shallow clone references)
        for p in _replay_state(table_path, prior)["adds"]:
            actions.append(
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
    actions.extend({"add": a} for a in adds)
    # Optimistic-concurrency retry, real-writer style: a BLIND APPEND
    # (no removes, no metaData in the commit) that loses the version
    # race re-reads the log, re-checks that no concurrent commit
    # changed the table's schema, partitioning, or constraints (the Delta conflict
    # rule for AddFile-only transactions — they conflict only with
    # metadata/protocol changes, never with other appends), and
    # republishes the SAME promoted files under the next version.  The
    # data files are already in place; only the commit JSON moves.
    # Overwrites and table creations never retry: their remove-set /
    # create-semantics were computed against a snapshot the winner just
    # invalidated.
    can_retry = mode == "append" and prior is not None and evolved is None
    attempt = 0
    while True:
        try:
            _write_commit(table_path, version, actions)
            break
        except DeltaLogError as e:
            lost_race = "concurrent commit" in str(e)
            if not (lost_race and can_retry and attempt < APPEND_COMMIT_RETRIES):
                _rollback_promoted(table_path, adds)
                raise
            cur = _replay_state(table_path)
            cur_meta = (
                cur["metaData"].get("schemaString", ""),
                tuple(cur["metaData"].get("partitionColumns") or []),
                tuple(sorted((cur["metaData"].get("configuration") or {}).items())),
            )
            if cur_meta != validated_meta:
                _rollback_promoted(table_path, adds)
                raise DeltaLogError(
                    "append lost the version race to a commit that changed the "
                    "table's schema, partitioning, or constraints — cannot safely retry; "
                    "re-validate and re-write"
                ) from None
            attempt += 1
            version = cur["version"] + 1
            actions[0]["commitInfo"]["timestamp"] = int(time.time() * 1000)
            actions[0]["commitInfo"]["operationParameters"]["retryAttempt"] = attempt
        except Exception:
            _rollback_promoted(table_path, adds)
            raise
    _maybe_checkpoint(table_path, version)
    return version


def merge_delta(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on: str | list[str],
    when_matched: str = "update",
    when_not_matched: str = "insert",
) -> int:
    """MERGE INTO on the pure-Python log (J8 — the reference's
    ``DeltaTable.merge`` surface, ``scd2_delta_vendors.py:143-170``):
    whenMatchedUpdateAll / whenMatchedDelete / whenNotMatchedInsertAll
    re-expressed as DataFrame ops and committed atomically as ONE new
    version with operation MERGE.

    Target rows matched by the ``on`` keys are replaced by their source
    row (``when_matched='update'``), dropped (``'delete'``), or kept
    (``'ignore'``); unmatched target rows always carry; unmatched
    source rows insert (``when_not_matched='insert'``) or don't
    (``'ignore'``). Early-exits WITHOUT committing when the merge
    cannot change the table (the reference's ``take(1)`` probe, O3).

    Scale shape: one anti-join (carry) + one semi/anti join per clause,
    all keyed equi-joins on the merge keys — the same shuffle a real
    MERGE's find-touched-files + rewrite does, minus file-level
    pruning. Returns the committed (or current, on no-op) version."""
    if when_matched not in ("update", "delete", "ignore"):
        raise ValueError(f"when_matched must be update|delete|ignore, got {when_matched!r}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(f"when_not_matched must be insert|ignore, got {when_not_matched!r}")
    keys = [on] if isinstance(on, str) else list(on)
    target = read_delta_log(spark, table_path)
    if when_matched == "ignore":  # matched target rows are kept as-is
        carry = target
    else:  # update replaces them with source rows; delete drops them
        carry = target.join(source.select(*keys), keys, "left_anti")
    parts = [carry]
    touched = False
    if when_matched == "update":
        matched = source.join(target.select(*keys), keys, "left_semi")
        touched = touched or bool(matched.take(1))
        parts.append(matched.select(*target.columns))
    elif when_matched == "delete":
        touched = bool(target.join(source.select(*keys), keys, "left_semi").take(1))
    if when_not_matched == "insert":
        inserts = source.join(target.select(*keys), keys, "left_anti")
        touched = touched or bool(inserts.take(1))
        parts.append(inserts.select(*target.columns))
    if not touched:
        return latest_version(table_path)
    result = parts[0]
    for p in parts[1:]:
        result = result.unionByName(p)
    return write_delta(result, table_path, mode="overwrite", operation="MERGE")


def compact_delta(
    spark: SparkSession, table_path: str, target_files: int = 1
) -> int:
    """OPTIMIZE: rewrite the current snapshot's files into
    ``target_files`` larger ones and commit remove+add with
    ``dataChange: false`` (readers see identical rows; the commit only
    swaps the file layout — the small-file compaction every streaming
    ingest eventually needs). Returns the committed version."""
    import shutil

    prior = latest_version(table_path)
    if prior is None:
        raise DeltaLogError(f"not a Delta table: {table_path}")
    state = _replay_state(table_path)
    schema = StructType.fromJson(json.loads(state["metaData"]["schemaString"]))
    part_cols = state["metaData"].get("partitionColumns") or []
    if not state["adds"]:
        raise DeltaLogError("nothing to compact: empty snapshot")
    # Read through the SNAPSHOT (not the raw files): on a DV'd table the
    # rewrite materializes the deletion vectors away (logical rows are
    # unchanged, so dataChange:false stays truthful — real OPTIMIZE does
    # exactly this), and on a column-mapped table the logical read +
    # physical re-stage keeps on-disk names stable.
    df = read_delta_log(spark, table_path)
    if part_cols:
        # partitioned layout: coalesce(target) tasks each write the
        # partitions they hold -> about one file per partition value
        df = df.coalesce(target_files)
    else:
        # coalesce only LOWERS the scan's partition count, and the scan
        # packs small files by byte size — at a bigger tier the whole
        # snapshot can fit one scan partition and coalesce(2) silently
        # writes 1 file (caught by the sf1 sweep's file-count audit).
        # repartition honors target_files regardless of input layout,
        # which is also the real OPTIMIZE shape: the rewrite distributes
        # across exactly the requested output width.
        df = df.repartition(target_files)
    if _cm_enabled(state["metaData"]):
        df = _to_physical(df, schema)
    staging = os.path.join(table_path, f".staging-{uuid.uuid4().hex}")
    writer = df.write.mode("overwrite")
    if part_cols:
        # keep the table's layout: target_files tasks each write the
        # partitions they hold, so coalesce(1) → one file per partition
        writer = writer.partitionBy(*part_cols)
    writer.parquet(staging)
    adds = _promote_staged_files(staging, table_path)
    shutil.rmtree(staging, ignore_errors=True)
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {"commitInfo": {"timestamp": now_ms, "operation": "OPTIMIZE",
                        "operationParameters": {"targetFiles": target_files}}}
    ]
    for p in state["adds"]:
        actions.append({"remove": {"path": p,
                                   "deletionTimestamp": now_ms, "dataChange": False}})
    for a in adds:
        a["dataChange"] = False
        actions.append({"add": a})
    version = prior + 1
    try:
        _write_commit(table_path, version, actions)
    except Exception:
        _rollback_promoted(table_path, adds)
        raise
    _maybe_checkpoint(table_path, version)
    return version


def vacuum_delta(table_path: str, keep_last: int = 1) -> list[str]:
    """VACUUM: physically delete data files not referenced by any of
    the last ``keep_last`` snapshots. Time travel older than the
    retention window stops working afterwards — the same trade real
    Delta VACUUM makes (default 7-day retention there; version-based
    here because the tests need determinism). Assumes no writer is
    mid-promotion while it runs (a concurrent writer's just-promoted,
    not-yet-committed files would look unreferenced) — the standard
    single-vacuum operational assumption. Returns deleted paths."""
    latest = latest_version(table_path)
    if latest is None:
        raise DeltaLogError(f"not a Delta table: {table_path}")
    keep: set[str] = set()
    for v in range(max(0, latest - keep_last + 1), latest + 1):
        files, _ = _replay(table_path, v)
        keep |= {os.path.relpath(p, table_path) for p in files}
        # change-data files of retained commits stay readable; older
        # ones age out with their versions, like real CDF retention
        keep |= {
            a["cdc"]["path"] for a in _read_commit(table_path, v) if "cdc" in a
        }
    deleted = []
    for root, dirs, names in os.walk(table_path):
        # the log and any in-flight staging dirs are never data files
        dirs[:] = [
            d for d in dirs if d != LOG_DIR and not d.startswith(".staging-")
        ]
        for name in names:
            rel = os.path.relpath(os.path.join(root, name), table_path)
            if name.endswith(".parquet") and rel not in keep:
                os.remove(os.path.join(root, name))
                deleted.append(rel)
    # drop partition directories emptied by the deletes (bottom-up)
    for root, dirs, names in os.walk(table_path, topdown=False):
        if root != table_path and not dirs and not names:
            os.rmdir(root)
    return sorted(deleted)


def clone_delta(src_path: str, dst_path: str) -> int:
    """SHALLOW CLONE: create a new Delta table at ``dst_path`` whose v0
    commit references the SOURCE's live data files by absolute path —
    zero data copied, O(files) metadata, the delta-spark
    ``CREATE TABLE ... SHALLOW CLONE`` surface. The clone gets a fresh
    table id (it is a new table, not a new version) but inherits the
    source's schema and configuration (constraints included). Writes to
    the clone land under the clone's own root; overwrites tombstone the
    absolute source references without ever touching source data.
    VACUUM on the clone only deletes files under the clone's root, so
    the source is safe by construction — but the reverse is not true:
    vacuuming the SOURCE can orphan a clone's references, the same
    operational caveat real shallow clones carry.

    Partitioned sources are rejected: reconstructing partition columns
    requires Spark's basePath to be an ancestor of every file, which a
    cross-root clone cannot satisfy."""
    latest = latest_version(src_path)
    if latest is None:
        raise DeltaLogError(f"not a Delta table: {src_path}")
    if latest_version(dst_path) is not None:
        raise DeltaLogError(f"clone target already a Delta table: {dst_path}")
    state = _replay_state(src_path)
    if state["metaData"].get("partitionColumns"):
        raise DeltaLogError(
            "shallow clone of a PARTITIONED table is not supported "
            "(partition reconstruction needs basePath to cover the files)"
        )
    now_ms = int(time.time() * 1000)
    meta = dict(state["metaData"])
    meta["id"] = uuid.uuid4().hex
    meta["createdTime"] = now_ms
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "CLONE",
                "operationParameters": {"source": src_path, "sourceVersion": latest},
            }
        },
        {"protocol": dict(state["protocol"] or PROTOCOL)},
        {"metaData": meta},
    ]
    src_abs = os.path.abspath(src_path)
    for a in state["adds"].values():
        ref = dict(a)
        if not os.path.isabs(ref["path"]):
            ref["path"] = os.path.join(src_abs, ref["path"])
        actions.append({"add": ref})
    os.makedirs(dst_path, exist_ok=True)
    _write_commit(dst_path, 0, actions)
    return 0


def add_constraint(
    spark: SparkSession, table_path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT (CHECK): validates that EVERY
    existing row satisfies ``expr`` (one table scan, exactly what real
    Delta pays), then commits a metaData re-emission with
    ``delta.constraints.<name> = expr`` in the configuration and bumps
    the writer protocol to 3 — from here on every write_delta validates
    incoming rows (NULL counts as a violation, the spec's
    NOT (expr <=> true) rule). Returns the committed version."""
    latest = latest_version(table_path)
    if latest is None:
        raise DeltaLogError(f"not a Delta table: {table_path}")
    state = _replay_state(table_path)
    config = dict(state["metaData"].get("configuration") or {})
    key = CONSTRAINT_PREFIX + name
    if key in config:
        raise DeltaLogError(f"constraint {name!r} already exists: {config[key]}")
    snap = read_delta_log(spark, table_path)
    bad = snap.filter(~F.coalesce(F.expr(expr), F.lit(False))).take(1)
    if bad:
        raise DeltaLogError(
            f"cannot add CHECK constraint {name!r} ({expr}): existing row "
            f"violates it: {bad[0].asDict()}"
        )
    config[key] = expr
    now_ms = int(time.time() * 1000)
    meta = dict(state["metaData"])
    meta["configuration"] = config
    actions = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "ADD CONSTRAINT",
                "operationParameters": {"name": name, "expr": expr},
            }
        },
        {"protocol": dict(CONSTRAINT_PROTOCOL)},
        {"metaData": meta},
    ]
    new_version = latest + 1
    _write_commit(table_path, new_version, actions)
    _maybe_checkpoint(table_path, new_version)
    return new_version


def restore_delta(table_path: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION AS OF: a NEW commit that flips the
    live file set back to ``version``'s — remove actions for files
    live now but not then, add actions (replayed verbatim, stats and
    partitionValues included) for files live then but not now. No data
    file is rewritten or deleted: history stays intact, the restore is
    itself time-travelable, and a second restore can undo it — exactly
    delta-spark's RESTORE semantics. If the target snapshot's schema
    or partitioning differs from the current one, its metaData is
    re-emitted (restore restores schema too, keeping the table id).

    Fails if any of the target snapshot's files were VACUUMed away —
    real Delta raises the same way; restore only reaches as far back
    as retention does."""
    latest = latest_version(table_path)
    if latest is None:
        raise DeltaLogError(f"not a Delta table: {table_path}")
    cur = _replay_state(table_path)
    old = _replay_state(table_path, version)
    missing = [
        p for p in old["adds"] if not os.path.exists(os.path.join(table_path, p))
    ]
    if missing:
        raise DeltaLogError(
            f"cannot restore to version {version}: {len(missing)} data file(s) "
            f"were vacuumed (e.g. {missing[0]}); restore reaches only as far "
            "back as retention"
        )
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "RESTORE",
                "operationParameters": {"version": version},
            }
        }
    ]
    same_meta = (
        cur["metaData"].get("schemaString") == old["metaData"].get("schemaString")
        and (cur["metaData"].get("partitionColumns") or [])
        == (old["metaData"].get("partitionColumns") or [])
        and (cur["metaData"].get("configuration") or {})
        == (old["metaData"].get("configuration") or {})
    )
    if not same_meta:
        meta = dict(old["metaData"])
        meta["id"] = cur["metaData"].get("id", meta.get("id"))
        actions.append({"metaData": meta})
    # A path live in BOTH snapshots but with a different deletionVector
    # (rows deleted/undeleted in between) must also flip: remove the
    # current entry and re-add the target's verbatim.
    dv_changed = sorted(
        p
        for p in set(cur["adds"]) & set(old["adds"])
        if cur["adds"][p].get("deletionVector") != old["adds"][p].get("deletionVector")
    )
    for p in sorted(set(cur["adds"]) - set(old["adds"])) + dv_changed:
        actions.append(
            {
                "remove": {
                    "path": p,
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            }
        )
    for p in sorted(set(old["adds"]) - set(cur["adds"])) + dv_changed:
        actions.append({"add": dict(old["adds"][p])})
    new_version = latest + 1
    _write_commit(table_path, new_version, actions)
    _maybe_checkpoint(table_path, new_version)
    return new_version


def delta_version_diff(
    spark: SparkSession,
    table_path: str,
    key: str | list[str],
    version_from: int,
    version_to: int | None = None,
) -> DataFrame:
    """Row-level change feed between two versions — the pure-Python
    analog of Delta CDF's ``table_changes`` for readers that ask "what
    changed between v_a and v_b" on a table written WITHOUT per-commit
    change files: both snapshots time-travel through the log, full-outer
    join on the key, and each key classifies as ``insert`` (new only),
    ``delete`` (old only), or ``update`` (full-row md5 differs);
    unchanged keys drop out. Non-key columns come back twice, prefixed
    ``old_`` / ``new_``.

    Requires the key to be unique per snapshot (CDF's own effective
    contract for merge-maintained tables). Scale shape: one keyed
    full-outer join — the two scans prune through the same partition/
    stats skipping every log read gets; at 100 TB prefer diffing
    adjacent checkpoints over distant versions so the snapshots share
    most files (the join is still key-proportional either way)."""
    keys = [key] if isinstance(key, str) else list(key)
    old = read_delta_log(spark, table_path, version_as_of=version_from)
    new = read_delta_log(spark, table_path, version_as_of=version_to)
    val_cols = [c for c in old.columns if c not in keys]

    def row_hash(cols: list[str]) -> Column:
        # Per-column md5 first, then concat: every cell contributes a
        # FIXED-WIDTH 32-hex digest, so values containing a separator
        # can never shift across column boundaries, and NULL's sentinel
        # ("-" — not a valid hex digest) can never collide with a real
        # value.  A naive concat_ws("\\x1f", ...) is collision-prone on
        # both counts.
        return F.md5(
            F.concat_ws(
                "|",
                *[
                    F.coalesce(F.md5(F.col(c).cast("string")), F.lit("-"))
                    for c in cols
                ],
            )
        )

    o = old.select(
        *keys,
        *[F.col(c).alias(f"old_{c}") for c in val_cols],
        row_hash(val_cols).alias("_old_hash"),
    )
    n = new.select(
        *keys,
        *[F.col(c).alias(f"new_{c}") for c in val_cols],
        row_hash(val_cols).alias("_new_hash"),
    )
    change = (
        F.when(F.col("_old_hash").isNull(), F.lit("insert"))
        .when(F.col("_new_hash").isNull(), F.lit("delete"))
        .when(F.col("_old_hash") != F.col("_new_hash"), F.lit("update"))
    )
    return (
        o.join(n, keys, "full_outer")
        .withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .drop("_old_hash", "_new_hash")
    )


def read_delta_appends(
    spark: SparkSession,
    table_path: str,
    since_version: int,
    to_version: int | None = None,
) -> tuple[DataFrame, int]:
    """Incremental tail of an APPEND-ONLY Delta table — the poll-based
    analog of delta-spark's ``readStream`` source: rows from files
    ADDED by commits in ``(since_version, to_version]``, plus the new
    high-water version to persist for the next poll. Consuming every
    poll exactly once replays the table exactly once (the version
    number IS the offset; pair with ``txn`` watermarks on the write
    side for end-to-end exactly-once).

    Commits whose actions all carry ``dataChange: false`` (OPTIMIZE
    compaction, Z-order rewrites) are SKIPPED entirely — the real
    protocol semantic: they rearrange bytes, not rows, and a streaming
    reader that ingested their adds would double-count every compacted
    row. Raises only when a commit with ``dataChange: true`` removes
    files — an overwrite/MERGE means file-level tailing would replay
    or lose rows; row-level consumers of such tables use
    :func:`delta_version_diff` instead. Scale shape: reads ONLY the
    files the polled commits added (no snapshot scan, no join) with
    the current metaData schema, so old files' missing evolved columns
    read as NULL exactly like a snapshot read."""
    latest = latest_version(table_path)
    if latest is None:
        raise DeltaLogError(f"not a Delta table: {table_path}")
    to_version = latest if to_version is None else to_version
    if to_version > latest:
        raise DeltaLogError(f"version {to_version} not committed (latest {latest})")
    _, schema = _replay(table_path, to_version)
    new_files: list[str] = []
    for v in range(since_version + 1, to_version + 1):
        actions = _read_commit(table_path, v)
        file_actions = [a for a in actions if "add" in a or "remove" in a]
        if file_actions and all(
            not (a.get("add") or a.get("remove")).get("dataChange", True)
            for a in file_actions
        ):
            continue  # pure rearrangement (OPTIMIZE/Z-order): no new rows
        for action in file_actions:
            if "remove" in action:
                raise DeltaLogError(
                    f"version {v} removes rows' files (overwrite/merge): "
                    "file-level tailing would replay or lose rows; use "
                    "delta_version_diff for row-level changes"
                )
            new_files.append(os.path.join(table_path, action["add"]["path"]))
    if not new_files:
        return spark.createDataFrame([], schema), to_version
    reader = spark.read.schema(schema)
    part_cols = _replay_state(table_path, to_version)["metaData"].get("partitionColumns") or []
    if part_cols:
        reader = reader.option("basePath", table_path)
    return reader.parquet(*new_files), to_version


# ---------------------------------------------------------------------------
# Deletion vectors (row-level DELETE without rewriting data files)
# ---------------------------------------------------------------------------

DV_FEATURE = "deletionVectors"


def _rel_path_col(n_part_cols: int):
    """Column: the scanned file's path RELATIVE to the table root —
    the last (partition dirs + filename) segments of
    ``_metadata.file_path`` — matching the add actions' ``path`` keys.
    Partition values with characters the writer URI-encodes would
    break this match; this engine's partition values are the plain
    ``col=value`` strings write_delta itself produced."""
    k = n_part_cols + 1
    return F.array_join(
        F.slice(F.split(F.col("_metadata.file_path"), "/"), -k, k), "/"
    )


def _encode_dv(indexes) -> dict:
    """Serialize row indexes into an INLINE deletion-vector descriptor
    (``storageType: "i"`` — the payload lives in the action itself, the
    protocol's small-DV fast path). Layout: ascending unique indexes →
    delta-gap LEB128 varints → base85 text. This matches the SPEC'S
    SHAPE (descriptor fields, inline storage, base85 payload,
    cardinality) while simplifying the payload codec: real Delta
    serializes a RoaringBitmapArray; a varint gap list is equivalent
    for correctness, within ~2x of roaring's size on sparse vectors,
    and keeps the reader dependency-free. Cross-implementation DV
    exchange would need the roaring codec — flagged at
    :func:`delete_delta`."""
    idx = sorted({int(i) for i in indexes})
    out = bytearray()
    prev = -1
    for i in idx:
        gap = i - prev
        prev = i
        while True:
            b = gap & 0x7F
            gap >>= 7
            if gap:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    raw = bytes(out)
    return {
        "storageType": "i",
        "pathOrInlineDv": base64.b85encode(raw).decode("ascii"),
        "sizeInBytes": len(raw),
        "cardinality": len(idx),
    }


def _decode_dv(dv: dict) -> list[int]:
    """Inverse of :func:`_encode_dv` → ascending row indexes."""
    if dv.get("storageType") != "i":
        raise DeltaLogError(
            f"unsupported deletion-vector storageType {dv.get('storageType')!r} "
            "(this reader implements inline DVs)"
        )
    raw = base64.b85decode(dv["pathOrInlineDv"])
    idx: list[int] = []
    cur = shift = 0
    prev = -1
    for b in raw:
        cur |= (b & 0x7F) << shift
        if b & 0x80:
            shift += 7
        else:
            prev += cur
            idx.append(prev)
            cur = shift = 0
    if len(idx) != dv.get("cardinality", len(idx)):
        raise DeltaLogError("deletion vector cardinality mismatch")
    return idx


def _dv_protocol(prior: dict | None) -> dict:
    """Protocol action for a table gaining deletion vectors: table
    features (reader 3 / writer 7) with ``deletionVectors`` listed in
    BOTH feature sets, per the spec — merged with whatever features the
    table already declared."""
    rf = set((prior or {}).get("readerFeatures") or [])
    wf = set((prior or {}).get("writerFeatures") or [])
    rf.add(DV_FEATURE)
    wf.add(DV_FEATURE)
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(rf),
        "writerFeatures": sorted(wf),
    }


def delete_delta(spark: SparkSession, table_path: str, predicate: str) -> int:
    """Row-level DELETE via deletion vectors: rows matching
    ``predicate`` (a Spark SQL boolean expression over the table's
    columns) are marked deleted by row index — NO data file is
    rewritten, copied, or removed. Each touched file's add action is
    replaced (remove + re-add of the same path) carrying a
    ``deletionVector`` descriptor; an existing DV unions with the new
    positions (the merge real DV writers do). Returns the committed
    version; committing nothing (no matching rows) returns the current
    version unchanged, like a no-op MERGE.

    This is THE 100 TB lever for selective deletes (GDPR erasure,
    late-arriving retractions): copy-on-write rewrites O(file) bytes
    per touched row, DVs write O(deleted rows) bitmap bytes. For BROAD
    deletes the bitmap approaches the file's row count and a rewrite
    (write_delta overwrite / compact) is the right tool — the same
    crossover real engines tune.

    Scale shape: ONE distributed scan of the active files evaluates
    the predicate and returns (file, row_index) hits via the parquet
    reader's ``_metadata`` hidden columns — only MATCHING positions
    ever reach the driver (bounded by the delete's selectivity, the
    same bound the commit itself must hold since the DV is in the
    action).

    Interplay proven in tests: time-travel to a pre-delete version
    sees the rows again (the OLD add has no DV); RESTORE flips DVs
    back; VACUUM keeps the file (still referenced); the change feed
    (delta_version_diff) reports the deleted rows as row-level
    deletes; checkpoints persist the DV descriptor. PARTITIONED
    tables are supported (predicates may reference partition columns,
    which basePath discovery rebuilds for the marking scan); the one
    unsupported combination is partitioned + column-mapped."""
    state = _replay_state(table_path)
    actions, n_rows = _dv_mark_actions(spark, state, table_path, predicate)
    if not actions:
        return state["version"]
    if _cdf_enabled(state["metaData"]):
        # change files carry the deleted LIVE rows (dead rows already
        # left the feed when their own delete committed)
        schema = StructType.fromJson(json.loads(state["metaData"]["schemaString"]))
        deleted = read_delta_log(spark, table_path).filter(F.expr(predicate))
        if _cm_enabled(state["metaData"]):
            deleted = _to_physical(deleted, schema)
        actions += _write_cdc_files(
            deleted.withColumn("_change_type", F.lit("delete")), table_path
        )
    now_ms = int(time.time() * 1000)
    commit_info = {
        "commitInfo": {
            "timestamp": now_ms,
            "operation": "DELETE",
            "operationParameters": {"predicate": predicate},
            "operationMetrics": {
                "numDeletedRows": n_rows,
            },
        }
    }
    version = state["version"] + 1
    _write_commit(
        table_path,
        version,
        [commit_info, {"protocol": _dv_protocol(state["protocol"])}] + actions,
    )
    _maybe_checkpoint(table_path, version)
    return version


def _dv_mark_actions(
    spark: SparkSession, state: dict, table_path: str, predicate: str
) -> tuple[list[dict], int]:
    """Shared core of DV DELETE/UPDATE: evaluate ``predicate`` over the
    active files (one distributed scan, ``_metadata`` hidden columns),
    union hit positions into each touched file's existing DV, and
    return ([remove+add action per touched file], rows marked). Empty
    list = nothing matched. Positions already dead in a file's current
    DV never re-match: the scan reads the files RAW, so the predicate
    is re-evaluated on dead rows too — they just union into the same
    positions (idempotent)."""
    part_cols = state["metaData"].get("partitionColumns") or []
    mapped = _cm_enabled(state["metaData"])
    if part_cols and mapped:
        raise DeltaLogError(
            "deletion vectors on a partitioned AND column-mapped table are "
            "not supported by this engine — use a partition-pruned rewrite"
        )
    schema = StructType.fromJson(json.loads(state["metaData"]["schemaString"]))
    adds = state["adds"]
    if not adds:
        return [], 0
    files = [os.path.join(table_path, p) for p in adds]
    reader = spark.read.schema(_physical_schema(schema) if mapped else schema)
    if part_cols:
        # partition columns live in directory names; basePath discovery
        # rebuilds them so the predicate may reference them
        reader = reader.option("basePath", table_path)
    scan = reader.parquet(*files)
    meta_cols = scan.select(
        _rel_path_col(len(part_cols)).alias("f"),
        F.col("_metadata.row_index").alias("i"),
        "*",
    )
    if mapped:
        # predicate is written against LOGICAL names
        meta_cols = meta_cols.select(
            "f", "i", *[F.col(_physical_name(fl)).alias(fl.name) for fl in schema.fields]
        )
    hits = meta_cols.filter(F.expr(predicate)).select("f", "i").collect()
    if not hits:
        return [], 0
    by_file: dict[str, set] = {}
    for r in hits:
        if r["f"] not in adds:
            raise DeltaLogError(f"marking scan hit unknown file {r['f']!r}")
        by_file.setdefault(r["f"], set()).add(r["i"])
    now_ms = int(time.time() * 1000)
    actions: list[dict] = []
    n_rows = 0
    for rel, new_idx in sorted(by_file.items()):
        old_add = adds[rel]
        old_dv = old_add.get("deletionVector")
        already = set(_decode_dv(old_dv)) if old_dv else set()
        n_rows += len(new_idx - already)
        new_idx |= already
        remove = {
            "path": rel,
            "deletionTimestamp": now_ms,
            "dataChange": True,
        }
        if old_dv:
            remove["deletionVector"] = old_dv
        actions.append({"remove": remove})
        new_add = dict(old_add)
        new_add["deletionVector"] = _encode_dv(new_idx)
        new_add["dataChange"] = True
        actions.append({"add": new_add})
    return actions, n_rows


def update_delta(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    assignments: dict[str, str],
) -> int:
    """Row-level UPDATE as one atomic commit: matching LIVE rows are
    tombstoned via deletion vectors (no file rewrite) and their updated
    images — original columns with each ``assignments[col]`` SQL
    expression applied — are appended as new files. Readers at the
    prior version see the old rows; readers at this version see only
    the new images. Nothing matched → no commit, current version
    returned.

    The matched-row read goes through the DV-AWARE snapshot (already-
    deleted rows can't resurrect as updated copies), while the
    tombstone marking re-evaluates the predicate on the raw files
    (idempotent for dead rows — see _dv_mark_actions). Copy-on-write
    UPDATE rewrites every touched file; this writes O(matched rows)
    data + O(matched rows) bitmap — the protocol's DV-update shape."""
    unknown = [c for c in assignments if not c]
    if unknown or not assignments:
        raise DeltaLogError("update_delta: assignments must map column -> SQL expr")
    state = _replay_state(table_path)
    if state["metaData"].get("partitionColumns"):
        # the updated images are appended as UNPARTITIONED files, which
        # would corrupt a Hive layout — DELETE supports partitions
        # (delete_delta), UPDATE deliberately does not yet
        raise DeltaLogError(
            "update_delta on a partitioned table is not supported — "
            "delete + partitioned append, or a partition-pruned rewrite"
        )
    schema = StructType.fromJson(json.loads(state["metaData"]["schemaString"]))
    for c in assignments:
        if c not in [f.name for f in schema.fields]:
            raise DeltaLogError(f"update_delta: unknown column {c!r}")
    snap = read_delta_log(spark, table_path)
    matched = snap.filter(F.expr(predicate))
    updated = matched.select(
        *[
            F.expr(assignments[f.name]).cast(f.dataType).alias(f.name)
            if f.name in assignments
            else F.col(f.name)
            for f in schema.fields
        ]
    )
    mark_actions, n_rows = _dv_mark_actions(spark, state, table_path, predicate)
    if not mark_actions:
        return state["version"]
    cdc_actions: list[dict] = []
    if _cdf_enabled(state["metaData"]):
        pre = matched.withColumn("_change_type", F.lit("update_preimage"))
        post = updated.withColumn("_change_type", F.lit("update_postimage"))
        change = pre.unionByName(post)
        if _cm_enabled(state["metaData"]):
            # change files store physical names, like the data files
            change = change.select(
                *[F.col(f.name).alias(_physical_name(f)) for f in schema.fields],
                "_change_type",
            )
        cdc_actions = _write_cdc_files(change, table_path)
    staging = os.path.join(
        table_path, f"_staging-{uuid.uuid4().hex}"
    )
    if _cm_enabled(state["metaData"]):
        updated = _to_physical(updated, schema)
    updated.write.mode("overwrite").parquet(staging)
    new_adds = _promote_staged_files(staging, table_path)
    import shutil as _shutil

    _shutil.rmtree(staging, ignore_errors=True)
    now_ms = int(time.time() * 1000)
    actions = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "UPDATE",
                "operationParameters": {"predicate": predicate},
                "operationMetrics": {
                    "numUpdatedRows": n_rows,
                    "numAddedFiles": len(new_adds),
                },
            }
        },
        {"protocol": _dv_protocol(state["protocol"])},
    ]
    actions += mark_actions
    actions += [{"add": a} for a in new_adds]
    actions += cdc_actions
    version = state["version"] + 1
    try:
        _write_commit(table_path, version, actions)
    except DeltaLogError:
        _rollback_promoted(table_path, new_adds)
        raise
    _maybe_checkpoint(table_path, version)
    return version


# ---------------------------------------------------------------------------
# Column mapping (rename / drop columns without rewriting data files)
# ---------------------------------------------------------------------------

CM_FEATURE = "columnMapping"
CM_MODE_KEY = "delta.columnMapping.mode"
CM_MAXID_KEY = "delta.columnMapping.maxColumnId"
_CM_ID = "delta.columnMapping.id"
_CM_PHYS = "delta.columnMapping.physicalName"


def _cm_enabled(meta: dict) -> bool:
    return (meta.get("configuration") or {}).get(CM_MODE_KEY) == "name"


def _physical_name(field) -> str:
    return (field.metadata or {}).get(_CM_PHYS, field.name)


def _physical_schema(schema: StructType) -> StructType:
    """The on-disk schema of a column-mapped table: same types and
    nullability, fields under their PHYSICAL names."""
    from pyspark.sql.types import StructField

    return StructType(
        [
            StructField(_physical_name(f), f.dataType, f.nullable)
            for f in schema.fields
        ]
    )


def _to_physical(df: DataFrame, schema: StructType) -> DataFrame:
    """Rename a logical-named DataFrame to physical names for staging."""
    return df.select(
        *[F.col(f.name).alias(_physical_name(f)) for f in schema.fields if f.name in df.columns]
    )


def _to_logical(df: DataFrame, schema: StructType) -> DataFrame:
    """Rename a physical-named scan back to the logical schema."""
    return df.select(
        *[F.col(_physical_name(f)).alias(f.name) for f in schema.fields]
    )


def _cm_protocol(prior: dict | None) -> dict:
    rf = set((prior or {}).get("readerFeatures") or [])
    wf = set((prior or {}).get("writerFeatures") or [])
    rf.add(CM_FEATURE)
    wf.add(CM_FEATURE)
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(rf),
        "writerFeatures": sorted(wf),
    }


def enable_column_mapping(table_path: str) -> int:
    """ALTER TABLE ... SET TBLPROPERTIES delta.columnMapping.mode=name:
    every schema field gains a stable column id and a PHYSICAL name
    (for an in-place upgrade, the current name — existing data files
    already store that), decoupling the logical schema from parquet
    column names. From here on, RENAME and DROP COLUMN are pure
    metadata commits (rename_column_delta / drop_column_delta), reads
    map physical→logical, and writes map logical→physical. Protocol
    upgrades to table features with ``columnMapping`` in both feature
    sets. Idempotent. Partitioned tables are rejected (their directory
    layout bakes in column names)."""
    state = _replay_state(table_path)
    meta = state["metaData"]
    if _cm_enabled(meta):
        return state["version"]
    if meta.get("partitionColumns"):
        raise DeltaLogError(
            "column mapping on partitioned tables is not supported by this engine"
        )
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    from pyspark.sql.types import StructField

    fields = []
    for i, f in enumerate(schema.fields, start=1):
        md = dict(f.metadata or {})
        md[_CM_ID] = i
        md[_CM_PHYS] = f.name
        fields.append(StructField(f.name, f.dataType, f.nullable, md))
    config = dict(meta.get("configuration") or {})
    config[CM_MODE_KEY] = "name"
    config[CM_MAXID_KEY] = str(len(fields))
    now_ms = int(time.time() * 1000)
    new_meta = dict(meta)
    new_meta["schemaString"] = StructType(fields).json()
    new_meta["configuration"] = config
    actions = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "SET TBLPROPERTIES",
                "operationParameters": {CM_MODE_KEY: "name"},
            }
        },
        {"protocol": _cm_protocol(state["protocol"])},
        {"metaData": new_meta},
    ]
    version = state["version"] + 1
    _write_commit(table_path, version, actions)
    _maybe_checkpoint(table_path, version)
    return version


def _cm_metadata_commit(table_path: str, op: str, params: dict, new_schema: StructType) -> int:
    state = _replay_state(table_path)
    now_ms = int(time.time() * 1000)
    new_meta = dict(state["metaData"])
    new_meta["schemaString"] = new_schema.json()
    actions = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": op,
                "operationParameters": params,
            }
        },
        {"metaData": new_meta},
    ]
    version = state["version"] + 1
    _write_commit(table_path, version, actions)
    _maybe_checkpoint(table_path, version)
    return version


def _constraint_mentions(config: dict, col: str) -> list[str]:
    import re

    pat = re.compile(rf"\b{re.escape(col)}\b", re.IGNORECASE)
    return [n for n, expr in _constraints(config).items() if pat.search(expr)]


def rename_column_delta(table_path: str, old: str, new: str) -> int:
    """ALTER TABLE ... RENAME COLUMN — a PURE metadata commit: the
    logical field name changes, the physical name (what every data
    file stores) does not, so ZERO bytes of data move. Requires column
    mapping (enable_column_mapping); renames that would break a CHECK
    constraint referencing the column are rejected, as real Delta
    does. Old snapshots time-travel under the old name."""
    state = _replay_state(table_path)
    meta = state["metaData"]
    if not _cm_enabled(meta):
        raise DeltaLogError(
            "rename requires column mapping: call enable_column_mapping first"
        )
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    names = [f.name for f in schema.fields]
    if old not in names:
        raise DeltaLogError(f"rename: no such column {old!r}")
    if new in names:
        raise DeltaLogError(f"rename: column {new!r} already exists")
    hit = _constraint_mentions(meta.get("configuration") or {}, old)
    if hit:
        raise DeltaLogError(
            f"rename: column {old!r} is referenced by CHECK constraint(s) {hit}"
        )
    from pyspark.sql.types import StructField

    fields = [
        StructField(new if f.name == old else f.name, f.dataType, f.nullable, dict(f.metadata or {}))
        for f in schema.fields
    ]
    return _cm_metadata_commit(
        table_path, "RENAME COLUMN", {"from": old, "to": new}, StructType(fields)
    )


def drop_column_delta(table_path: str, col: str) -> int:
    """ALTER TABLE ... DROP COLUMN — also pure metadata under column
    mapping: the field leaves the logical schema; the physical column
    stays in the files and simply stops being read (and a later
    re-add under a fresh physical name would NOT resurrect old
    values, because physical names never get reused). Constraint
    references reject the drop."""
    state = _replay_state(table_path)
    meta = state["metaData"]
    if not _cm_enabled(meta):
        raise DeltaLogError(
            "drop column requires column mapping: call enable_column_mapping first"
        )
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    names = [f.name for f in schema.fields]
    if col not in names:
        raise DeltaLogError(f"drop: no such column {col!r}")
    if len(names) == 1:
        raise DeltaLogError("drop: cannot drop the last column")
    hit = _constraint_mentions(meta.get("configuration") or {}, col)
    if hit:
        raise DeltaLogError(
            f"drop: column {col!r} is referenced by CHECK constraint(s) {hit}"
        )
    from pyspark.sql.types import StructField

    fields = [
        StructField(f.name, f.dataType, f.nullable, dict(f.metadata or {}))
        for f in schema.fields
        if f.name != col
    ]
    return _cm_metadata_commit(table_path, "DROP COLUMN", {"column": col}, StructType(fields))


# ---------------------------------------------------------------------------
# Change Data Feed (write-side cdc files + protocol-rule reader)
# ---------------------------------------------------------------------------

CDF_FEATURE = "changeDataFeed"
CDF_KEY = "delta.enableChangeDataFeed"
_CDC_DIR = "_change_data"


def _cdf_enabled(meta: dict) -> bool:
    return (meta.get("configuration") or {}).get(CDF_KEY) == "true"


def enable_change_data_feed(table_path: str) -> int:
    """ALTER TABLE ... SET TBLPROPERTIES delta.enableChangeDataFeed=true:
    from the NEXT commit on, row-changing operations that can't be
    derived from add/remove actions alone (DV DELETE, UPDATE) also
    write their changed rows to ``_change_data/`` parquet, referenced
    by ``cdc`` actions — the protocol's change-file surface. Readers
    (read_change_feed) follow the spec's rule: a commit WITH cdc
    actions is described by exactly those files; a commit without them
    falls back to its add actions (inserts). Idempotent."""
    state = _replay_state(table_path)
    if _cdf_enabled(state["metaData"]):
        return state["version"]
    config = dict(state["metaData"].get("configuration") or {})
    config[CDF_KEY] = "true"
    wf = set((state["protocol"] or {}).get("writerFeatures") or [])
    wf.add(CDF_FEATURE)
    proto = dict(state["protocol"] or {"minReaderVersion": 1})
    proto["minWriterVersion"] = 7
    proto["minReaderVersion"] = max(3, int(proto.get("minReaderVersion", 1)))
    proto["readerFeatures"] = sorted(set(proto.get("readerFeatures") or []))
    proto["writerFeatures"] = sorted(wf)
    new_meta = dict(state["metaData"])
    new_meta["configuration"] = config
    now_ms = int(time.time() * 1000)
    version = state["version"] + 1
    _write_commit(
        table_path,
        version,
        [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "SET TBLPROPERTIES",
                    "operationParameters": {CDF_KEY: "true"},
                }
            },
            {"protocol": proto},
            {"metaData": new_meta},
        ],
    )
    _maybe_checkpoint(table_path, version)
    return version


def _write_cdc_files(change_df: DataFrame, table_path: str) -> list[dict]:
    """Stage a change DataFrame (data columns + ``_change_type``) into
    ``_change_data/`` and return its ``cdc`` action dicts."""
    staging = os.path.join(table_path, f".cdc-staging-{uuid.uuid4().hex}")
    change_df.write.mode("overwrite").parquet(staging)
    import shutil as _shutil

    os.makedirs(os.path.join(table_path, _CDC_DIR), exist_ok=True)
    actions = []
    for name in sorted(os.listdir(staging)):
        if not name.endswith(".parquet"):
            continue
        rel = f"{_CDC_DIR}/cdc-{uuid.uuid4().hex}.parquet"
        os.replace(os.path.join(staging, name), os.path.join(table_path, rel))
        actions.append(
            {
                "cdc": {
                    "path": rel,
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(table_path, rel)),
                    "dataChange": False,
                }
            }
        )
    _shutil.rmtree(staging, ignore_errors=True)
    return actions


def read_change_feed(
    spark: SparkSession,
    table_path: str,
    version_from: int,
    version_to: int | None = None,
) -> DataFrame:
    """``table_changes(table, from, to)`` per the protocol's reader
    rule, commit by commit over ``[version_from, version_to]``:

    - a commit carrying ``cdc`` actions is described by EXACTLY those
      change files (their ``_change_type`` column says insert /
      delete / update_preimage / update_postimage);
    - a commit without cdc actions contributes its dataChange adds as
      ``insert`` rows (appends don't need change files — real CDF
      skips them too); non-dataChange commits (OPTIMIZE) contribute
      nothing. Remove-only rewrites without cdc files raise: their
      row-level changes are not reconstructible commit-locally —
      that's exactly what the cdc files are for (the snapshot-diff
      fallback for such tables is delta_version_diff).

    Every row carries ``_change_type`` and ``_commit_version``. Needs
    CDF enabled BEFORE the first commit you want to read."""
    latest = latest_version(table_path)
    if latest is None:
        raise DeltaLogError(f"not a Delta table: {table_path}")
    upto = latest if version_to is None else version_to
    state = _replay_state(table_path, upto)
    schema = StructType.fromJson(json.loads(state["metaData"]["schemaString"]))
    mapped = _cm_enabled(state["metaData"])
    out: DataFrame | None = None
    for v in range(version_from, upto + 1):
        actions = _read_commit(table_path, v)
        cdc = [a["cdc"] for a in actions if "cdc" in a]
        part: DataFrame | None = None
        if cdc:
            files = [os.path.join(table_path, c["path"]) for c in cdc]
            part = spark.read.parquet(*files)
            if mapped:
                keep = [f.name for f in schema.fields]
                part = part.select(
                    *[
                        F.col(_physical_name(fl)).alias(fl.name)
                        for fl in schema.fields
                    ],
                    "_change_type",
                )
            else:
                part = part.select(*[f.name for f in schema.fields], "_change_type")
        else:
            adds = [
                a["add"]
                for a in actions
                if "add" in a and a["add"].get("dataChange", True)
            ]
            removes = [
                a["remove"]
                for a in actions
                if "remove" in a and a["remove"].get("dataChange", True)
            ]
            if removes:
                raise DeltaLogError(
                    f"version {v} rewrites files without change files; enable "
                    "CDF before such commits or use delta_version_diff"
                )
            if adds:
                files = [os.path.join(table_path, a["path"]) for a in adds]
                read_schema = _physical_schema(schema) if mapped else schema
                scan = spark.read.schema(read_schema).parquet(*files)
                if mapped:
                    scan = _to_logical(scan, schema)
                part = scan.withColumn("_change_type", F.lit("insert"))
        if part is None:
            continue
        part = part.withColumn("_commit_version", F.lit(v).cast("long"))
        out = part if out is None else out.unionByName(part)
    if out is None:
        cols = [f.name for f in schema.fields]
        from pyspark.sql.types import LongType, StringType, StructField

        empty = StructType(
            schema.fields
            + [StructField("_change_type", StringType()), StructField("_commit_version", LongType())]
        )
        return spark.createDataFrame([], empty)
    return out


# ---------------------------------------------------------------------------
# Generated columns (delta.generationExpression in field metadata)
# ---------------------------------------------------------------------------

GENERATION_KEY = "delta.generationExpression"
# generated columns are a writer-protocol-4 feature in the spec
GENERATED_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 4}


def _generated_columns(meta: dict) -> dict[str, str]:
    """column name -> generation expression, from schema field metadata."""
    schema = json.loads(meta["schemaString"])
    return {
        f["name"]: f["metadata"][GENERATION_KEY]
        for f in schema.get("fields", [])
        if (f.get("metadata") or {}).get(GENERATION_KEY)
    }


def set_generated_column(
    spark: SparkSession, table_path: str, name: str, expr: str
) -> int:
    """Mark an EXISTING column as generated: validates that every
    current row already satisfies ``column <=> expr`` (one scan — the
    safety real Delta gets by only allowing generation expressions at
    CREATE TABLE), then re-emits metaData with
    ``delta.generationExpression`` in the field's metadata and bumps
    the writer protocol to 4. From here on every write_delta COMPUTES
    the column when the incoming batch omits it and VALIDATES it when
    supplied — the spec's writer obligations. Returns the version."""
    latest = latest_version(table_path)
    if latest is None:
        raise DeltaLogError(f"not a Delta table: {table_path}")
    state = _replay_state(table_path)
    schema_json = json.loads(state["metaData"]["schemaString"])
    fld = next((f for f in schema_json["fields"] if f["name"] == name), None)
    if fld is None:
        raise DeltaLogError(f"set_generated_column: no column {name!r}")
    if (fld.get("metadata") or {}).get(GENERATION_KEY):
        raise DeltaLogError(f"column {name!r} is already generated")
    snap = read_delta_log(spark, table_path)
    bad = snap.filter(~F.col(name).eqNullSafe(F.expr(expr))).take(1)
    if bad:
        raise DeltaLogError(
            f"cannot mark {name!r} generated as ({expr}): existing row "
            f"disagrees: {bad[0].asDict()}"
        )
    fld.setdefault("metadata", {})[GENERATION_KEY] = expr
    meta = dict(state["metaData"])
    meta["schemaString"] = json.dumps(schema_json)
    actions = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "SET GENERATED COLUMN",
                "operationParameters": {"name": name, "expr": expr},
            }
        },
        {"protocol": dict(GENERATED_PROTOCOL)},
        {"metaData": meta},
    ]
    new_version = latest + 1
    _write_commit(table_path, new_version, actions)
    _maybe_checkpoint(table_path, new_version)
    return new_version
