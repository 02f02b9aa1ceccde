"""The commit-log folds: the engine's own ``_txlog`` (JSON commits plus
checkpoint commits) and a Delta ``_delta_log`` (the public delta.io
PROTOCOL.md), replayed into live files, deletion vectors, schema,
column mapping, partition metadata and per-commit deltas.

ONE copy serves every reader: :mod:`operators.txlog` (snapshots, time
travel, ``read_changes``), :mod:`operators.deltalog` (Delta snapshots,
checkpoint writing, export, change feed) and the ``txlog`` Python
DataSource (``sources/txlog_source``), whose streaming planner runner
and task workers cannot import this package. The module is therefore
self-contained: it imports only the standard library, pyarrow and
``pyspark.sql.types`` (present in every Spark python process), needs no
SparkSession, and imports nothing from the package, so
``txlog_source.register`` can ship it by value with cloudpickle.
``tests/test_logfold.py`` pins that import rule.

Range guards are policy, not fold, and stay with the callers: the
operator's change feed refuses a range that starts at or below the
oldest retained txlog commit, while the stream's bootstrap may start
there (see the two call sites of :func:`commit_deltas_full`).
"""

from __future__ import annotations

import json
import os
import re

# ------------------------------------------------------------ txlog fold


def commit_versions(log_dir: str) -> list[int]:
    """Sorted versions of the txlog commit files in ``log_dir``."""
    return sorted(
        int(f.split(".")[0]) for f in os.listdir(log_dir) if f.endswith(".json")
    )


def _txlog_commit(log_dir: str, version: int) -> dict:
    with open(os.path.join(log_dir, f"{version:012d}.json")) as fh:
        return json.load(fh)


def _checkpoint_state(log_dir: str, c: dict) -> tuple[set, dict]:
    """(live file set, dvs_state) carried by a CHECKPOINT commit: inline
    ``adds``/``dvs_state`` for ordinary tables, or the parquet sidecar
    named by ``adds_sidecar`` for huge file counts. The ONE reader every
    fold must use — reading ``c["adds"]`` directly on a sidecar'd
    checkpoint silently yields an empty table."""
    sc = c.get("adds_sidecar")
    if not sc:
        return set(c["adds"]), dict(c.get("dvs_state") or {})
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(log_dir, sc))
    files = tbl.column("file").to_pylist()
    dvs: dict[str, dict] = {}
    if "dv_sidecar" in tbl.column_names:
        # dv_pathkey is absent on pre-relative-path-keying checkpoints —
        # its None default means "legacy basename-keyed sidecar"
        pks = (
            tbl.column("dv_pathkey").to_pylist()
            if "dv_pathkey" in tbl.column_names
            else [None] * len(files)
        )
        for f, s, card, pk in zip(
            files,
            tbl.column("dv_sidecar").to_pylist(),
            tbl.column("dv_cardinality").to_pylist(),
            pks,
        ):
            if s is not None:
                dvs[f] = {"sidecar": s, "cardinality": int(card)}
                if pk is not None:
                    dvs[f]["pathkey"] = pk
    return set(files), dvs


def apply_txlog_commit(
    log_dir: str, c: dict, live: set, dvs: dict
) -> tuple[set, dict]:
    """(live, dvs) after one commit, updated in place. Removed files
    drop their DV (the data left the table or was compacted), ``dvs``
    entries replace per-file descriptors (a new DV supersedes the old
    one — DML always writes the union), ``dvs_reset`` (restore)
    replaces the whole state, and checkpoint commits carry the full
    state."""
    if c.get("checkpoint"):
        return _checkpoint_state(log_dir, c)
    live -= set(c["removes"])
    live |= set(c["adds"])
    for f in c["removes"]:
        dvs.pop(f, None)
    if c.get("dvs_reset") is not None:
        dvs = dict(c["dvs_reset"])
    for f, desc in (c.get("dvs") or {}).items():
        dvs[f] = desc
    return live, dvs


def replay_log(log_dir: str, as_of: int | None = None) -> tuple[int, list[str]]:
    """(version, live file list) at the latest version or at ``as_of``."""
    v, files, _dvs = replay_log_full(log_dir, as_of)
    return v, files


def replay_log_full(
    log_dir: str, as_of: int | None = None
) -> tuple[int, list[str], dict[str, dict]]:
    """(version, live files, deletion-vector state) at the latest
    version or at ``as_of`` — replayed from the newest checkpoint commit
    (full file list) at or before it, not the whole log.

    The DV state maps a live data file's relative path to its descriptor
    ``{"sidecar": <rel path of the parquet sidecar holding its deleted
    (file, row_index) rows>, "cardinality": <deleted-row count>,
    "pathkey": <"rel" when the sidecar's file column holds relative
    paths; absent on legacy basename-keyed sidecars>}`` — the
    merge-on-read half of the table format (public design: Delta's
    deletion vectors): a delete marks row POSITIONS in a tiny sidecar
    instead of rewriting the data file, so a 1-row delete costs
    O(deleted rows) bytes, not a file rewrite."""
    versions = commit_versions(log_dir)
    if not versions:
        raise FileNotFoundError(f"no commits in {log_dir}")
    commits = [
        (v, _txlog_commit(log_dir, v))
        for v in versions
        if as_of is None or v <= as_of
    ]
    if not commits:
        raise FileNotFoundError(
            f"no commit at or before version {as_of} in {log_dir}"
        )
    start = 0
    for i, (_v, c) in enumerate(commits):
        if c.get("checkpoint"):
            start = i
    live: set[str] = set()
    dvs: dict[str, dict] = {}
    for _v, c in commits[start:]:
        live, dvs = apply_txlog_commit(log_dir, c, live, dvs)
    return commits[-1][0], sorted(live), dvs


def schema_and_mapping_at(
    log_dir: str, as_of: int | None = None
) -> tuple[str | None, dict | None]:
    """(recorded schema JSON, column mapping) effective at ``as_of`` in
    ONE log pass — the newest commit at/below it carrying each payload.

    The schema (StructType JSON) is None only for legacy logs written
    before schemas were recorded. The mapping (logical name -> PHYSICAL
    parquet column name) is None for identity — a table that never
    renamed or dropped a column. Each mapping commit records the FULL
    mapping, so latest-wins is the whole fold. This is Delta's
    column-mapping design: RENAME changes only the logical name, DROP
    removes the logical binding, and a re-added name gets a FRESH
    physical name so dropped data can never resurrect."""
    schema = mapping = None
    for v in commit_versions(log_dir):
        if as_of is not None and v > as_of:
            break
        c = _txlog_commit(log_dir, v)
        if c.get("schema") is not None:
            schema = c["schema"]
        if c.get("column_mapping") is not None:
            mapping = c["column_mapping"]
    return schema, mapping


def commit_deltas_full(
    log_dir: str, from_version: int, to_version: int
) -> list[dict]:
    """Per-commit deltas over ``[from_version, to_version]``, computed
    checkpoint-aware in ONE pass (a checkpoint commit's recorded adds
    are the full live list; its TRUE delta is live(v) - live(v-1)).

    Bootstraps from the newest CHECKPOINT commit strictly below
    ``from_version`` — found by a short backward scan — instead of
    folding from commit 0: a long-lived streaming tail polling this per
    trigger pays O(commits in range + checkpoint interval), never
    O(total commits). A range reaching below the retained log head
    folds from the oldest retained commit; whether that is allowed is
    the caller's guard.

    Each record is a dict: ``v``, ``adds``/``removes`` (TRUE file
    deltas), ``op`` (so consumers can tell data-unchanged rewrites —
    OPTIMIZE, Delta's ``dataChange=false`` — from real DML), ``cdc``
    (the commit's change-data sidecar, if any), plus the deletion-vector
    deltas a row-exact change feed needs: ``dv_changed`` maps a file
    live on BOTH sides of the commit whose DV descriptor changed to
    ``(old_desc|None, new_desc|None)`` (grown DV = rows deleted;
    shrunk/cleared — a restore — = rows resurrected); ``dv_removed``
    maps a removed file to the DV it carried BEFORE the commit (so its
    rows are NOT re-reported as deletes); ``dv_added`` maps an added
    file to the DV it carries AFTER (a restore re-adding a DV'd file)."""
    versions = commit_versions(log_dir)
    start_idx, live, dvs = 0, set(), {}
    for i in range(len(versions) - 1, -1, -1):
        if versions[i] >= from_version:
            continue
        c = _txlog_commit(log_dir, versions[i])
        if c.get("checkpoint"):
            start_idx = i + 1
            live, dvs = _checkpoint_state(log_dir, c)
            break
    out: list[dict] = []
    for v in versions[start_idx:]:
        if v > to_version:
            break
        c = _txlog_commit(log_dir, v)
        prev, prev_dvs = set(live), dict(dvs)
        live, dvs = apply_txlog_commit(log_dir, c, live, dvs)
        if v < from_version:
            continue
        adds = sorted(live - prev)
        removes = sorted(prev - live)
        out.append(
            {
                "v": v,
                "adds": adds,
                "removes": removes,
                "op": c.get("op") or "",
                "dv_changed": {
                    f: (prev_dvs.get(f), dvs.get(f))
                    for f in sorted(live & prev)
                    if prev_dvs.get(f) != dvs.get(f)
                },
                "dv_removed": {
                    f: prev_dvs[f] for f in removes if f in prev_dvs
                },
                "dv_added": {f: dvs[f] for f in adds if f in dvs},
                "cdc": c.get("cdc"),
            }
        )
    return out


def partition_meta(log_dir: str):
    """(partition column names, their StructType) from commit 0 —
    ``([], None)`` for unpartitioned tables. After ``cleanup_log``
    truncated the log head, the OLDEST retained commit is a
    metadata-complete checkpoint carrying the same
    ``partition_by``/``partition_schema`` payload, so that is read
    instead; a truncated head whose oldest survivor is NOT such a
    checkpoint fails loudly rather than read a partitioned table as
    unpartitioned (all partition columns null)."""
    from pyspark.sql.types import StructType

    if os.path.exists(os.path.join(log_dir, f"{0:012d}.json")):
        c0 = _txlog_commit(log_dir, 0)
    else:
        versions = commit_versions(log_dir)
        if not versions:
            raise FileNotFoundError(f"no commits in {log_dir}")
        c0 = _txlog_commit(log_dir, versions[0])
        if "partition_by" not in c0:
            raise FileNotFoundError(
                f"{log_dir}: commit 0 is gone and the oldest retained "
                f"commit {versions[0]:012d}.json carries no partition "
                "spec — the log head was truncated below a "
                "metadata-complete checkpoint"
            )
    pby = c0.get("partition_by") or []
    pschema = (
        StructType.fromJson(json.loads(c0["partition_schema"])) if pby else None
    )
    return pby, pschema


def partition_values(rel_path: str) -> dict[str, str | None]:
    """Parse hive-style ``col=value`` segments out of a relative data
    file path, unescaping the %XX escapes Spark's writer applies to
    special characters. ``__HIVE_DEFAULT_PARTITION__`` is the writer's
    null sentinel → None."""
    from urllib.parse import unquote

    out: dict[str, str | None] = {}
    for seg in rel_path.split("/")[:-1]:
        if "=" not in seg:
            continue
        k, _, v = seg.partition("=")
        v = unquote(v)
        out[unquote(k)] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
    return out


# ------------------------------------------------------------ Delta fold

_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}

# reader TABLE FEATURES this implementation honors (PROTOCOL.md 'Table
# Features', reader version 3): columnMapping resolves physical columns
# via schemaString metadata; timestampNtz is just a Spark type the scans
# already read; deletionVectors masks add.deletionVector bitmaps out of
# the scan (operators/roaring.py decodes the RoaringBitmap blobs);
# v2Checkpoint resolves UUID-named checkpoint spec files and their
# _sidecars/ parquet file actions; typeWidening reads files under the
# WIDENED schemaString (Spark 4's parquet reader upcasts the narrow
# physical types natively). Everything else refuses — the spec REQUIRES
# readers to refuse features they cannot honor.
_SUPPORTED_READER_FEATURES = {
    "columnMapping",
    "timestampNtz",
    "deletionVectors",
    "v2Checkpoint",
    "typeWidening",
}

SIDECAR_DIR = "_sidecars"


class DeltaState:
    """Replayed Delta log state at a version: live ``add`` actions by
    path, the ``metaData`` and ``protocol`` actions, plus what
    checkpoints must preserve per PROTOCOL.md — unexpired ``remove``
    tombstones (VACUUM safety for external engines), the latest ``txn``
    per appId (streaming idempotence) and the latest ``domainMetadata``
    per domain (row tracking keeps its high watermark there). Actions
    keep their JSON shape: checkpoint rows come back as dicts with null
    fields dropped and map columns as dicts."""

    def __init__(self, version: int):
        self.version = version
        self.live: dict[str, dict] = {}
        self.metadata: dict | None = None
        self.protocol: dict = dict(_PROTOCOL)
        self.tombstones: dict[str, dict] = {}
        self.txns: dict[str, dict] = {}
        self.domains: dict[str, dict] = {}


def check_protocol(protocol: dict) -> None:
    """Refuse a log this reader cannot replay — the spec's rule.
    minReaderVersion <= 2 reads; version 3 reads only with an explicit
    ``readerFeatures`` list inside :data:`_SUPPORTED_READER_FEATURES`
    (Delta 3.x writes the table-features form even for tables whose
    feature set this reader fully implements); anything else raises."""
    mrv = protocol.get("minReaderVersion", 1)
    if mrv <= 2:
        return
    feats = protocol.get("readerFeatures")
    if mrv == 3 and feats is not None:
        unsupported = sorted(set(feats) - _SUPPORTED_READER_FEATURES)
        if not unsupported:
            return
        raise NotImplementedError(
            f"table requires reader features {unsupported} "
            f"(supported: {sorted(_SUPPORTED_READER_FEATURES)})"
        )
    raise NotImplementedError(
        "this reader implements Delta protocol minReaderVersion<=2 plus "
        "reader-version-3 TABLE FEATURES limited to "
        f"{sorted(_SUPPORTED_READER_FEATURES)}; table requires {protocol}"
    )


def _delta_commits(delta_dir: str) -> dict[int, str]:
    """version -> file name of every single-version JSON commit — EXACT
    20-digit names only (the protocol's naming rule); log compactions
    and ``.crc`` files never match."""
    out = {}
    for f in os.listdir(delta_dir):
        if re.fullmatch(r"\d{20}\.json", f):
            out[int(f.split(".")[0])] = f
    return out


def _delta_compactions(delta_dir: str) -> dict[int, list[tuple[int, str]]]:
    """start -> [(end, file name)] of log compactions
    (``<start>.<end>.compacted.json``, Delta 3.x / delta-rs), widest
    first: the widest FITTING range wins at selection time — keeping
    only the global widest would discard a narrower compaction that
    legally covers a smaller time-travel range."""
    out: dict[int, list[tuple[int, str]]] = {}
    for f in os.listdir(delta_dir):
        m = re.fullmatch(r"(\d{20})\.(\d{20})\.compacted\.json", f)
        if m:
            out.setdefault(int(m.group(1)), []).append((int(m.group(2)), f))
    for lst in out.values():
        lst.sort(reverse=True)
    return out


def read_last_checkpoint(delta_dir: str) -> dict | None:
    """The ``_last_checkpoint`` hint, or None when absent or unreadable
    (the directory listing still finds every checkpoint)."""
    p = os.path.join(delta_dir, "_last_checkpoint")
    if not os.path.exists(p):
        return None
    try:
        with open(p) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def checkpoint_versions(delta_dir: str) -> dict[int, int | None]:
    """version -> parts (None for single-part classic and v2) of every
    checkpoint present, from the DIRECTORY LISTING — the reader-side
    complement of ``_last_checkpoint``: time travel below the newest
    checkpoint must bootstrap from an OLDER one when retention kept it,
    which ``_last_checkpoint`` alone can never find."""
    out: dict[int, int | None] = {}
    for f in os.listdir(delta_dir):
        m = re.fullmatch(r"(\d{20})\.checkpoint\.parquet", f)
        if m:
            out.setdefault(int(m.group(1)), None)
            continue
        m = re.fullmatch(r"(\d{20})\.checkpoint\.\d{10}\.(\d{10})\.parquet", f)
        if m:
            out[int(m.group(1))] = int(m.group(2))
            continue
        m = re.fullmatch(r"(\d{20})\.checkpoint\.[^.]+\.(json|parquet)", f)
        if m:
            out.setdefault(int(m.group(1)), None)
    return out


def _part_names(delta_dir: str, version: int, parts: int) -> list[str]:
    return [
        os.path.join(
            delta_dir, f"{version:020d}.checkpoint.{p:010d}.{parts:010d}.parquet"
        )
        for p in range(1, parts + 1)
    ]


def _resolve_v2_checkpoint(delta_dir: str, version: int) -> str | None:
    """The v2 (UUID-named) checkpoint spec file for ``version``, or None.
    Naming per PROTOCOL.md: ``<v>.checkpoint.<uniqueStr>.{json,parquet}``
    — exactly one dot field between 'checkpoint' and the extension, which
    cannot collide with classic multi-part names (two numeric fields).
    Multiple writers may each have left a complete v2 checkpoint for the
    same version; any is valid, so pick deterministically."""
    pat = re.compile(rf"{version:020d}\.checkpoint\.[^.]+\.(json|parquet)")
    hits = sorted(f for f in os.listdir(delta_dir) if pat.fullmatch(f))
    return hits[-1] if hits else None


def _usable_checkpoint_form(
    delta_dir: str, version: int, parts: int | None
) -> tuple[bool, int | None]:
    """(usable, parts_to_replay_with) — completeness validation the
    Delta spec requires of readers before trusting a checkpoint found by
    directory listing: classic multi-part checkpoints publish each part
    with its own rename (``_last_checkpoint`` written last), so a
    crashed or still-running checkpoint write legally leaves e.g. part
    1-of-3 only. Verify all N parts exist and are non-empty, fall
    through to a complete single-part/v2 form at the same version, and
    let the caller walk to the next-older candidate otherwise."""
    if parts and all(
        os.path.exists(n) and os.path.getsize(n) > 0
        for n in _part_names(delta_dir, version, int(parts))
    ):
        return True, int(parts)
    classic = os.path.join(delta_dir, f"{version:020d}.checkpoint.parquet")
    if os.path.exists(classic) and os.path.getsize(classic) > 0:
        return True, None
    spec = _resolve_v2_checkpoint(delta_dir, version)
    if spec is not None and os.path.getsize(os.path.join(delta_dir, spec)) > 0:
        return True, None
    return False, None


def _map_fixer(t):
    """A function turning pyarrow's map values (lists of (key, value)
    pairs) back into dicts inside a value of arrow type ``t`` — None
    when ``t`` holds no map, so map-free columns cost nothing."""
    import pyarrow as pa

    if pa.types.is_map(t):
        inner = _map_fixer(t.item_type)
        return lambda v: None if v is None else {
            k: (inner(x) if inner else x) for k, x in v
        }
    if pa.types.is_struct(t):
        subs = [(f.name, _map_fixer(f.type)) for f in t]
        subs = [(n, fx) for n, fx in subs if fx is not None]
        if not subs:
            return None

        def fix(v):
            if v is not None:
                for n, fx in subs:
                    v[n] = fx(v[n])
            return v

        return fix
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        inner = _map_fixer(t.value_type)
        if inner is None:
            return None
        return lambda v: None if v is None else [inner(x) for x in v]
    return None


def _parquet_actions(tbl, col: str, key: str) -> list[dict]:
    """Non-null ``col`` actions of a checkpoint-schema table whose
    ``key`` field is set, as JSON-shaped dicts (null fields dropped)."""
    if col not in tbl.column_names:
        return []
    fix = _map_fixer(tbl.schema.field(col).type)
    out = []
    for r in tbl.column(col).to_pylist():
        if r is None or r.get(key) is None:
            continue
        if fix is not None:
            r = fix(r)
        a = {k: v for k, v in r.items() if v is not None}
        dv = a.get("deletionVector")
        if dv is not None and not dv.get("storageType"):
            del a["deletionVector"]  # an all-null struct means none
        out.append(a)
    return out


# checkpoint columns that carry state, with the field that is set on
# every real action of that kind
_CHECKPOINT_ACTIONS = (
    ("protocol", "minReaderVersion"),
    ("metaData", "schemaString"),
    ("remove", "path"),
    ("add", "path"),
    ("txn", "appId"),
    ("domainMetadata", "domain"),
)


def _fold_parquet_actions(
    state: DeltaState, full: str
) -> tuple[list[dict], dict | None]:
    """Fold one checkpoint-schema parquet file (a classic checkpoint
    part, a v2 spec file, or a v2 sidecar) into ``state`` with pyarrow,
    through the same action fold as JSON commits; returns its
    (``sidecar`` actions, ``checkpointMetadata`` payload) — both
    v2-spec-file-only."""
    import pyarrow.parquet as pq

    have = set(pq.read_schema(full).names)
    cols = [n for n, _k in _CHECKPOINT_ACTIONS] + [
        "sidecar", "checkpointMetadata",
    ]
    tbl = pq.read_table(full, columns=[c for c in cols if c in have])
    _apply_commit(
        state,
        _commit_of(
            {name: a}
            for name, key in _CHECKPOINT_ACTIONS
            for a in _parquet_actions(tbl, name, key)
        ),
    )
    cms = _parquet_actions(tbl, "checkpointMetadata", "version")
    return _parquet_actions(tbl, "sidecar", "path"), (cms[-1] if cms else None)


def delta_checkpoint_state(
    delta_dir: str, version: int, parts: int | None
) -> DeltaState:
    """Replay a checkpoint into the full state it carries. Handles all
    three protocol forms: classic single- or multi-part parquet, and V2
    (UUID-named json/parquet spec file + parquet sidecars under
    ``_sidecars/``)."""
    state = DeltaState(version)
    if parts:
        for name in _part_names(delta_dir, version, int(parts)):
            _fold_parquet_actions(state, name)
        return state
    classic = os.path.join(delta_dir, f"{version:020d}.checkpoint.parquet")
    spec = None if os.path.exists(classic) else _resolve_v2_checkpoint(
        delta_dir, version
    )
    if spec is None:
        # a missing classic file raises the reader's loud ENOENT
        _fold_parquet_actions(state, classic)
        return state
    full = os.path.join(delta_dir, spec)
    if spec.endswith(".json"):
        sidecars: list[dict] = []
        ckpt_meta = None
        others = []
        with open(full) as fh:
            for a in (json.loads(line) for line in fh if line.strip()):
                if "checkpointMetadata" in a:
                    ckpt_meta = a["checkpointMetadata"]
                elif "sidecar" in a:
                    sidecars.append(a["sidecar"])
                else:
                    others.append(a)
        _apply_commit(state, _commit_of(others))
    else:
        sidecars, ckpt_meta = _fold_parquet_actions(state, full)
    # PROTOCOL.md: readers MUST validate the embedded version — a
    # misnamed/corrupt spec file must not silently replay as another
    # version's state
    if ckpt_meta is None or int(ckpt_meta.get("version", -1)) != version:
        raise ValueError(
            f"v2 checkpoint {spec} is invalid: checkpointMetadata.version="
            f"{(ckpt_meta or {}).get('version')!r} does not match the "
            f"file-name version {version}"
        )
    paths = [os.path.join(delta_dir, SIDECAR_DIR, s["path"]) for s in sidecars]
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        raise FileNotFoundError(
            f"v2 checkpoint {spec} references missing sidecar file(s) "
            f"{[os.path.basename(p) for p in missing]} under "
            f"{os.path.join(delta_dir, SIDECAR_DIR)}"
        )
    for p in paths:
        _fold_parquet_actions(state, p)
    return state


def _commit_of(actions) -> dict:
    """Parsed actions of one commit: ``adds``/``removes`` by path,
    ``cdc`` (AddCDCFile actions), the last ``metaData``/``protocol``,
    ``txns`` by appId, ``domains`` in order, and ``data_change`` (some
    add/remove lacks ``dataChange=false``). The protocol is checked as
    it is read."""
    c: dict = {
        "adds": {}, "removes": {}, "cdc": [], "metaData": None,
        "protocol": None, "txns": {}, "domains": [], "data_change": False,
    }
    for a in actions:
        if "add" in a:
            c["adds"][a["add"]["path"]] = a["add"]
            if a["add"].get("dataChange", True):
                c["data_change"] = True
        elif "remove" in a:
            c["removes"][a["remove"]["path"]] = a["remove"]
            if a["remove"].get("dataChange", True):
                c["data_change"] = True
        elif "cdc" in a:
            c["cdc"].append(a["cdc"])
        elif "metaData" in a:
            c["metaData"] = a["metaData"]
        elif "protocol" in a:
            check_protocol(a["protocol"])
            c["protocol"] = a["protocol"]
        elif "txn" in a:
            if a["txn"].get("appId") is not None:
                c["txns"][a["txn"]["appId"]] = a["txn"]
        elif "domainMetadata" in a:
            c["domains"].append(a["domainMetadata"])
    return c


def read_commit(full: str) -> dict:
    """One Delta JSON commit (or log compaction), parsed by
    :func:`_commit_of`."""
    with open(full) as fh:
        return _commit_of(json.loads(line) for line in fh if line.strip())


def _apply_commit(state: DeltaState, c: dict) -> None:
    """Fold one parsed commit into ``state``. A remove and an add of one
    path in the same commit is a deletion-vector or metadata update, so
    removes apply first and the add wins whatever the action order;
    re-adding a path supersedes its tombstone."""
    if c["metaData"] is not None:
        state.metadata = c["metaData"]
    if c["protocol"] is not None:
        state.protocol = c["protocol"]
    for p, r in c["removes"].items():
        state.live.pop(p, None)
        state.tombstones[p] = r
    for p, a in c["adds"].items():
        state.live[p] = a
        state.tombstones.pop(p, None)
    state.txns.update(c["txns"])
    for dm in c["domains"]:
        if dm.get("removed"):
            state.domains.pop(dm.get("domain"), None)
        elif dm.get("domain") is not None:
            state.domains[dm["domain"]] = dm


def replay_delta_log(delta_dir: str, version: int | None = None) -> DeltaState:
    """The Delta snapshot fold at ``version`` (default latest): bootstrap
    from the newest COMPLETE checkpoint at/below it, then cover the tail
    contiguously with single commits and/or log compactions (greedy: a
    compaction whose whole range fits replaces its commits — one file
    open instead of end-start+1). A version covered by neither refuses:
    the spec's continuity rule. Time travel INSIDE a compacted range
    still needs the single commits (a compaction replayed as "version
    <start>" would apply future-state actions)."""
    commits = _delta_commits(delta_dir)
    compactions = _delta_compactions(delta_dir)
    lc = read_last_checkpoint(delta_dir)
    # a fully-compacted log (checkpoint only, JSON head expired) is legal:
    # the checkpoint version counts toward the latest resolvable version,
    # and so does a compaction's END version (its singles may be gone)
    latest = max(
        max(commits, default=-1),
        lc["version"] if lc else -1,
        max((e for lst in compactions.values() for e, _ in lst), default=-1),
    )
    if latest < 0:
        raise FileNotFoundError(f"no Delta commits in {delta_dir}")
    want = latest if version is None else int(version)
    if want > latest:
        raise FileNotFoundError(f"version {want} not in Delta log (latest {latest})")
    state = DeltaState(want)
    start_after = -1
    # newest-first over EVERY listed checkpoint (not only
    # _last_checkpoint: after log-head cleanup the state below a
    # checkpoint exists nowhere else), skipping incomplete ones
    ckpts = checkpoint_versions(delta_dir)
    for cv in sorted((v for v in ckpts if v <= want), reverse=True):
        parts = ckpts[cv]
        if lc and lc.get("version") == cv and lc.get("parts"):
            parts = lc["parts"]
        usable, replay_parts = _usable_checkpoint_form(delta_dir, cv, parts)
        if not usable:
            continue
        state = delta_checkpoint_state(delta_dir, cv, replay_parts)
        state.version = want
        start_after = cv
        break
    v = start_after + 1
    while v <= want:
        comp = next(
            ((e, f) for e, f in compactions.get(v, ()) if e <= want), None
        )
        if comp is not None:
            fname, v = comp[1], comp[0] + 1
        elif v in commits:
            fname, v = commits[v], v + 1
        else:
            raise FileNotFoundError(
                f"Delta log {delta_dir} is missing commit {v} (no single "
                f"commit and no compaction starting there fits within "
                f"version {want}; checkpoint covers through {start_after}) "
                "— cannot return a partial snapshot"
            )
        _apply_commit(state, read_commit(os.path.join(delta_dir, fname)))
    if state.metadata is None or state.metadata.get("schemaString") is None:
        raise FileNotFoundError(f"no metaData action at or below version {want}")
    return state


def _delta_record(
    v: int, prev: dict, new: dict, cdc: list, data_change: bool
) -> dict:
    """One per-commit record in the SAME shape :func:`commit_deltas_full`
    emits for txlog commits, plus ``pvals`` (Delta files carry
    partitionValues in the LOG, not necessarily in hive paths)."""
    padds, nadds = set(prev), set(new)
    adds = sorted(nadds - padds)
    removes = sorted(padds - nadds)
    both = padds & nadds

    def dv(side, f):
        return side[f].get("deletionVector")

    return {
        "v": v,
        "adds": adds,
        "removes": removes,
        "op": "write" if data_change else "optimize",
        "dv_changed": {
            f: (dv(prev, f), dv(new, f))
            for f in sorted(both)
            if dv(prev, f) != dv(new, f)
        },
        "dv_removed": {f: dv(prev, f) for f in removes if dv(prev, f)},
        "dv_added": {f: dv(new, f) for f in adds if dv(new, f)},
        "cdc": list(cdc),
        "pvals": {
            f: (new.get(f) or prev.get(f)).get("partitionValues") or {}
            for f in set(adds) | set(removes) | both
        },
    }


def delta_commit_deltas(delta_dir: str, lo: int, hi: int) -> list[dict]:
    """Per-commit deltas for ``[lo, hi]`` — the JSON actions ARE the
    delta; prior DV descriptors come from the fold state. When the JSON
    head expired above ``lo``, the checkpoint at/below the head
    bootstraps ONE synthetic full-snapshot record (the same clamped
    bootstrap the txlog stream has after cleanup_log). Every version
    after that needs its SINGLE commit: log compactions net per-commit
    deltas away by construction, so a change feed never consumes one."""
    commits = _delta_commits(delta_dir)
    out: list[dict] = []
    prev: dict[str, dict] = {}
    start = lo
    head = min(commits) if commits else None
    if head is not None and head > lo:
        lc = read_last_checkpoint(delta_dir)
        cv = lc.get("version", -1) if lc else -1
        if cv < lo:
            raise FileNotFoundError(
                f"change feed from version {lo} is below the retained "
                f"Delta log head (oldest commit: {head}) and no "
                "checkpoint covers the gap"
            )
        if cv > hi:
            # the whole requested range predates the checkpoint and its
            # JSON commits were cleaned — refusing loudly beats emitting
            # a full-snapshot record OUTSIDE the asked-for range
            raise FileNotFoundError(
                f"change range [{lo}, {hi}] lies below the Delta "
                f"checkpoint at {cv} with its JSON commits cleaned — "
                "those deltas are unreconstructible"
            )
        prev = delta_checkpoint_state(delta_dir, cv, lc.get("parts")).live
        out.append(_delta_record(cv, {}, prev, [], True))
        start = cv + 1
    elif lo > 0:
        prev = replay_delta_log(delta_dir, lo - 1).live
    have = sorted(v for v in commits if start <= v <= hi)
    if have != list(range(start, hi + 1)):
        raise FileNotFoundError(
            f"Delta log {delta_dir}: missing single commit(s) in "
            f"[{start}, {hi}] (have {have}) — change feeds need the "
            "per-commit JSON; compactions cannot serve deltas"
        )
    for v in have:
        c = read_commit(os.path.join(delta_dir, commits[v]))
        new = dict(prev)
        for p in c["removes"]:
            new.pop(p, None)
        new.update(c["adds"])
        out.append(_delta_record(v, prev, new, c["cdc"], c["data_change"]))
        prev = new
    return out


def mapping_mode(metadata: dict | None) -> str:
    """'none', 'name' or 'id' from metaData.configuration (PROTOCOL.md:
    absent == 'none'); any other mode refuses loudly, as the spec
    requires of readers that cannot honor it."""
    mode = ((metadata or {}).get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )
    if mode not in ("none", "name", "id"):
        raise NotImplementedError(
            f"delta.columnMapping.mode={mode!r} not supported (none|name|id)"
        )
    return mode


def _schema_fields(metadata: dict):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(metadata["schemaString"])).fields


def physical_names(metadata: dict) -> dict[str, str]:
    """logical field name -> physical parquet column name, from the
    schemaString's ``delta.columnMapping.physicalName`` annotations
    (identity for unannotated fields). Valid in every mode: stats and
    partitionValues stay keyed by physicalName even when data columns
    resolve by field id."""
    return {
        f.name: (f.metadata or {}).get("delta.columnMapping.physicalName", f.name)
        for f in _schema_fields(metadata)
    }


def field_ids(metadata: dict) -> dict[str, int]:
    """logical field name -> parquet field id, from the schemaString's
    ``delta.columnMapping.id`` annotations (columnMapping mode=id tables
    must carry them on every field)."""
    ids = {
        f.name: (f.metadata or {}).get("delta.columnMapping.id")
        for f in _schema_fields(metadata)
    }
    missing = sorted(n for n, i in ids.items() if i is None)
    if missing:
        raise ValueError(
            f"columnMapping mode=id but field(s) {missing} carry no "
            "delta.columnMapping.id annotation — the mapping is "
            "unresolvable"
        )
    return {n: int(i) for n, i in ids.items()}


def delta_partition_meta(metadata: dict):
    """(partition column names, their StructType) of a metaData action —
    ``([], None)`` for unpartitioned tables."""
    from pyspark.sql.types import StructType

    pby = list(metadata.get("partitionColumns") or [])
    if not pby:
        return [], None
    by_name = {f.name: f for f in _schema_fields(metadata)}
    return pby, StructType([by_name[c] for c in pby])
