"""Iceberg-shaped snapshot table over parquet (append / time-travel /
incremental / rollback).

The north rule's input is "an Iceberg table of multi-turn transcripts";
the sandbox has no Iceberg runtime jars, so this module implements the
SEMANTICS the engine needs from Iceberg's public spec — immutable data
files + versioned metadata with a snapshot log — over plain parquet:

  <root>/data/snap<seq>-<i>.parquet        immutable data files
  <root>/metadata/v<N>.metadata.json       full metadata at version N
  <root>/metadata/version-hint.text        current version (HadoopTables
                                           layout, Iceberg spec §"File
                                           System Tables")

Capabilities (all metadata-only except append/compact's data write):
  append(df, root, partition_by=)  -> new snapshot id (deterministic);
                                      hidden partitioning (identity /
                                      day / month / bucket transforms,
                                      partition tuples in the manifest,
                                      data keeps source columns only);
                                      add-column schema evolution
  read(spark, root, snapshot_id=, prune=, partition_where=) ->
                                      DataFrame, time-travel by id
                                      (snapshot-schema resolution),
                                      footer-stats file pruning +
                                      exact partition pruning
  incremental_read(spark, root, a, b) -> rows appended in (a, b]
                                      (Iceberg "incremental append scan";
                                      refuses to cross a compaction)
  compact(spark, root, sort_by=)   -> small-file rewrite as a "replace"
                                      snapshot (optionally sort-ordered)
  rollback(root, snapshot_id)      -> current pointer moves back
  expire_snapshots(root, keep=)    -> retention + safe file reclaim
  remove_orphans(root, older_than_s=) -> dead writers' leftovers
  snapshots(root) / current_snapshot_id(root)

Commit protocol: optimistic, like Iceberg's — the writer publishes a
complete v<N+1>.metadata.json with an atomic create-if-absent
(os.link; EEXIST means a concurrent writer won the version) and
retries on top of the new current version.  Data files are immutable
and never rewritten, so readers pinned to any snapshot are unaffected
by commits.

Scale posture: metadata is O(total files) JSON held driver-side —
exactly Iceberg's manifest-list role; reads hand Spark the pinned file
list (spark.read.parquet(*files)), so column pruning / predicate
pushdown / split planning are unchanged, and no data ever passes
through the driver.  At a real 10^12-turn deployment the same call
sites take `spark.read.format("iceberg")` — read_transcripts already
tries that first (io.py:29-33).

Checkpoint lineage: CheckpointedRun's `snapshot_id` (checkpoint.py:67)
is fed from current_snapshot_id(root), making "input snapshot id" in
the per-bucket manifest a real, resolvable table version.

Reference analog: the reference re-reads a growing log file with a
line-offset resume (enc/APMFragmentIntent.java:856-864); snapshots +
incremental reads are the table-format generalization of that offset.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

_HINT = "version-hint.text"


def _meta_dir(root: str) -> str:
    return os.path.join(root, "metadata")


def _data_dir(root: str) -> str:
    return os.path.join(root, "data")


def _current_version(root: str) -> int:
    """Current metadata version, 0 if the table doesn't exist yet.
    The hint file is advisory (it lags briefly between a winner's
    metadata link and its hint update) — the committed v*.metadata.json
    files are the truth, so scan for the max like Iceberg's
    HadoopTableOperations does on a missing/stale hint."""
    md = _meta_dir(root)
    if not os.path.isdir(md):
        return 0
    versions = [
        int(f[1:-len(".metadata.json")])
        for f in os.listdir(md)
        if f.startswith("v") and f.endswith(".metadata.json")
    ]
    return max(versions, default=0)


def _load_meta(root: str, version: int | None = None) -> dict:
    v = _current_version(root) if version is None else version
    if v == 0:
        return {"format-version": 1, "schema": None, "snapshots": [],
                "current-snapshot-id": None, "last-sequence-number": 0}
    with open(os.path.join(_meta_dir(root), f"v{v}.metadata.json")) as f:
        return json.load(f)


def _snapshot_id(parent: int | None, files: list[str], n_rows: int) -> int:
    """Deterministic snapshot id: content-addressed over (parent id,
    added file names, row count).  Same appends ⇒ same ids, which lets
    tests and driver oracles pin time-travel results by value."""
    payload = f"{parent}|{','.join(sorted(files))}|{n_rows}"
    return int(hashlib.sha256(payload.encode()).hexdigest()[:15], 16)


def _commit(root: str, meta: dict, expected_version: int) -> int:
    """Atomically publish metadata as v<expected_version+1>.  Uses
    os.link (fails with EEXIST if a concurrent committer won) then
    updates the advisory hint.  Raises FileExistsError on conflict —
    callers re-read and retry on top of the winner."""
    os.makedirs(_meta_dir(root), exist_ok=True)
    new_v = expected_version + 1
    target = os.path.join(_meta_dir(root), f"v{new_v}.metadata.json")
    fd, tmp = tempfile.mkstemp(dir=_meta_dir(root), suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(meta, f)
    try:
        os.link(tmp, target)  # atomic create-if-absent
    finally:
        os.unlink(tmp)
    hint_tmp = os.path.join(_meta_dir(root), _HINT + ".tmp")
    with open(hint_tmp, "w") as f:
        f.write(str(new_v))
    os.replace(hint_tmp, os.path.join(_meta_dir(root), _HINT))
    return new_v


def _schema_key(schema_json: str):
    """Canonical comparable form of a schema: field names + types with
    nullability and metadata scrubbed at every nesting level.  Parquet
    read-back always infers nullable=true, so strict JSON equality
    would reject e.g. compact()'s rewrite of a table created from
    non-nullable columns (found by the model-based property test)."""

    def scrub(node):
        if isinstance(node, dict):
            return {
                k: scrub(v)
                for k, v in sorted(node.items())
                if k not in ("nullable", "metadata", "containsNull",
                             "valueContainsNull")
            }
        if isinstance(node, list):
            return [scrub(x) for x in node]
        return node

    return json.dumps(scrub(json.loads(schema_json)), sort_keys=True)


def _struct_of(schema_json: str | None):
    from pyspark.sql.types import StructType

    if schema_json is None:
        return StructType([])
    return StructType.fromJson(json.loads(schema_json))


def _evolve_schema(table_json: str, new_json: str) -> str:
    """Schema-evolution check for an append: the incoming schema must
    contain every existing top-level field with an identical (scrubbed)
    type, and may ADD fields — Iceberg's add-column evolution; drops,
    renames, and type changes are rejected.  Added fields are coerced
    nullable (Iceberg: added columns are optional — old files have no
    values for them, reads fill null).  Returns the table schema to
    store: unchanged when nothing was added."""
    if _schema_key(table_json) == _schema_key(new_json):
        return table_json

    def one(f):
        return _schema_key(json.dumps({"type": "struct", "fields": [f]}))

    tf = {f["name"]: f for f in json.loads(table_json)["fields"]}
    new = json.loads(new_json)
    nf = {f["name"]: f for f in new["fields"]}
    missing = sorted(set(tf) - set(nf))
    if missing:
        raise ValueError(
            f"append drops table columns {missing}; schema evolution "
            "supports adding columns only"
        )
    for name, f in tf.items():
        if one(f) != one(nf[name]):
            raise ValueError(
                f"append changes the type of column {name!r}: "
                f"{f['type']} vs {nf[name]['type']}"
            )
    for f in new["fields"]:
        if f["name"] not in tf:
            f["nullable"] = True
    return json.dumps(new)


def _schema_at(meta: dict, snapshot_id: int | None) -> str | None:
    """The table schema AS OF a snapshot (nearest ancestor that
    recorded one; snapshots predating schema tracking fall back to the
    current table schema).  Time-travel reads resolve columns against
    this, so a pre-evolution snapshot reads with its own narrower
    schema."""
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    cur = sid
    while cur is not None:
        s = by_id[cur]
        if "schema-json" in s:
            return s["schema-json"]
        cur = s["parent-snapshot-id"]
    return meta["schema"]


# ---------------------------------------------------------- partitioning

_TRANSFORM_NAMES = ("identity", "day", "month", "bucket")


def _norm_spec(partition_by) -> list[dict] | None:
    """Normalize `partition_by` to the stored spec: a list of
    {"transform", "column"[, "n"]} dicts (or None).  Accepted inputs:
    "col" (identity), ("day", "ts"), ("month", "ts"),
    ("bucket", "col", 16), an already-normalized dict, or a list of
    any of those — Iceberg partition transforms (spec §Partitioning),
    i.e. HIDDEN partitioning: the data keeps its source columns, the
    transform value lives only in the manifest."""
    if partition_by is None:
        return None
    if isinstance(partition_by, (str, tuple, dict)):
        partition_by = [partition_by]
    spec = []
    for p in partition_by:
        if isinstance(p, dict):
            d = dict(p)
        elif isinstance(p, str):
            d = {"transform": "identity", "column": p}
        else:
            d = {"transform": p[0], "column": p[1]}
            if p[0] == "bucket":
                d["n"] = int(p[2])
        if d["transform"] not in _TRANSFORM_NAMES:
            raise ValueError(
                f"unknown partition transform {d['transform']!r}; "
                f"supported: {_TRANSFORM_NAMES}"
            )
        if d["transform"] == "bucket" and "n" not in d:
            raise ValueError("bucket transform requires n")
        spec.append(d)
    return spec


def _spec_field(d: dict) -> str:
    t, c = d["transform"], d["column"]
    if t == "identity":
        return c
    if t == "bucket":
        return f"bucket{d['n']}({c})"
    return f"{t}({c})"


def _transform_col(d: dict):
    from pyspark.sql import functions as F

    t, c = d["transform"], d["column"]
    if t == "identity":
        return F.col(c).cast("string")
    if t == "day":
        return F.date_format(F.col(c), "yyyy-MM-dd")
    if t == "month":
        return F.date_format(F.col(c), "yyyy-MM")
    return F.pmod(F.xxhash64(F.col(c)), F.lit(d["n"])).cast("string")


def _entry_matches_partition(entry: dict, where: dict | None) -> bool:
    """May this file contain rows of the wanted partitions?  Entries
    without partition tuples (pre-spec or unpartitioned) can never be
    pruned.  `where` maps spec field names (e.g. "day(ts)") to a value
    or list of values; values compare as the strings the transform
    produced."""
    if not where:
        return True
    pv = entry.get("partition")
    if pv is None:
        return True
    for k, want in where.items():
        if k not in pv:
            continue
        vals = (
            want
            if isinstance(want, (list, tuple, set, frozenset))
            else [want]
        )
        if pv[k] not in {str(v) for v in vals}:
            return False
    return True


def is_snap_table(root: str) -> bool:
    return _current_version(root) > 0


def snapshots(root: str) -> list[dict]:
    return _load_meta(root)["snapshots"]


def current_snapshot_id(root: str) -> int | None:
    return _load_meta(root)["current-snapshot-id"]


def append(df: DataFrame, root: str, retries: int = 5,
           operation: str = "append",
           expect_parent: int | None = ...,
           partition_by=None) -> int:
    """Append df as a new snapshot; returns the new snapshot id.

    The data write happens ONCE (to a staging dir, a normal distributed
    Spark write); only the metadata commit retries on conflict.

    `operation` is the Iceberg snapshot summary operation: "append"
    (df's rows ADD to the parent's) or "replace" (df's files REPLACE
    the whole visible table — same rows, new files; used by
    compact()).  Incremental reads include only "append" snapshots.

    `expect_parent` (validation, Iceberg's rewrite commit check): fail
    instead of committing when the current snapshot is no longer this
    id — a replace computed from a stale read must not erase a
    concurrent append.  Default (ellipsis) = no check.

    `partition_by` (first append fixes the table's spec; later appends
    must match it): Iceberg-style HIDDEN partitioning — e.g.
    ("day", "ts"), "source", ("bucket", "conv_id", 16), or a list.
    The transform value is computed at write time, routes the
    distributed write (one file subtree per value), and is recorded in
    each manifest entry; data files keep only the source columns.
    Readers prune by partition via `partition_where` with no footer
    I/O.  Schema evolution: an append may ADD columns (they become
    nullable; old files read as null) — see _evolve_schema."""
    # stage INSIDE the table root: publication is an os.link, which
    # requires the same filesystem (a /tmp staging dir EXDEV-fails
    # whenever the table lives on another volume)
    os.makedirs(root, exist_ok=True)
    spec = _norm_spec(partition_by)
    stage = tempfile.mkdtemp(prefix=".stage_", dir=root)
    try:
        if spec:
            from urllib.parse import unquote

            pcols = [f"_p{i}" for i in range(len(spec))]
            wdf = df
            for pc, d in zip(pcols, spec):
                wdf = wdf.withColumn(pc, _transform_col(d))
            wdf.write.mode("overwrite").partitionBy(*pcols).parquet(stage)
            parts: list[tuple[str, dict | None]] = []
            for dirpath, _dirs, fnames in os.walk(stage):
                for f in fnames:
                    if f.endswith(".parquet") and not f.startswith("."):
                        rel = os.path.relpath(
                            os.path.join(dirpath, f), stage
                        )
                        pv: dict = {}
                        for comp in rel.split(os.sep)[:-1]:
                            k, _, v = comp.partition("=")
                            pv[_spec_field(spec[int(k[2:])])] = unquote(v)
                        parts.append((rel, pv))
            parts.sort()
        else:
            df.write.mode("overwrite").parquet(stage)
            parts = [
                (f, None)
                for f in sorted(
                    f for f in os.listdir(stage)
                    if f.endswith(".parquet") and not f.startswith(".")
                )
            ]
        schema_json = df.schema.json()
        # row counts + per-file column min/max from parquet footers —
        # no extra Spark job; these power file-level scan pruning
        # (Iceberg's manifest min/max pruning)
        import pyarrow.parquet as pq
        part_rows: list[int] = []
        part_stats: list[dict] = []
        for p, _pv in parts:
            md = pq.ParquetFile(os.path.join(stage, p)).metadata
            part_rows.append(md.num_rows)
            part_stats.append(_footer_stats(md))
        n_rows = sum(part_rows)
        last: Exception | None = None
        name_token = ""
        prev_blocker: tuple | None = None
        for _ in range(retries):
            # read the version FIRST and the metadata AT that version —
            # reading them separately lets a commit land in between and
            # be silently erased by ours (lost update)
            version = _current_version(root)
            meta = _load_meta(root, version)
            if meta["schema"] is not None:
                evolved_schema = _evolve_schema(meta["schema"], schema_json)
                table_spec = meta.get("partition-spec")
                if table_spec != spec:
                    raise ValueError(
                        f"append partition spec {spec} does not match "
                        f"table spec {table_spec}"
                    )
            else:
                evolved_schema = schema_json
            if expect_parent is not ... and \
                    meta["current-snapshot-id"] != expect_parent:
                raise RuntimeError(
                    "concurrent commit: current snapshot is "
                    f"{meta['current-snapshot-id']}, expected "
                    f"{expect_parent}"
                )
            # monotonic across expiry/rollback (Iceberg's
            # last-sequence-number), so file names never collide with a
            # surviving older snapshot's files
            seq = meta.get("last-sequence-number",
                           len(meta["snapshots"])) + 1
            names = [f"snap{seq:05d}{name_token}-{i:05d}.parquet"
                     for i in range(len(parts))]
            part_values = [pv for _, pv in parts]
            # publish data files BEFORE metadata (Iceberg commit order:
            # a reader must never resolve a snapshot to missing files).
            # os.link claims each seq-based name atomically — EEXIST
            # means another writer holds this sequence; retry on top.
            os.makedirs(_data_dir(root), exist_ok=True)
            claimed: list[str] = []
            blocker: str | None = None
            for (src, _pv), dst in zip(parts, names):
                sp = os.path.join(stage, src)
                dp = os.path.join(_data_dir(root), dst)
                try:
                    os.link(sp, dp)
                    claimed.append(dst)
                except FileExistsError as e:
                    if os.path.samefile(sp, dp):
                        # our own claim from a prior attempt (a
                        # metadata-only commit such as rollback() bumped
                        # the version under us) — keep it and proceed
                        claimed.append(dst)
                        continue
                    last, blocker = e, dst
                    break
            if blocker is not None:
                for dst in claimed:  # release our partial claim
                    os.unlink(os.path.join(_data_dir(root), dst))
                referenced = {e["file"] for s in meta["snapshots"]
                              for e in s["manifest"]}
                if blocker not in referenced and \
                        prev_blocker == (version, blocker):
                    # the SAME unreferenced file blocked us twice at an
                    # UNCHANGED version: a dead writer's orphan (a live
                    # writer would have committed and bumped the
                    # version) — switch to collision-free names; the
                    # orphan itself is left for remove_orphans()
                    name_token = "-" + os.urandom(4).hex()
                prev_blocker = (version, blocker)
                continue
            parent = meta["current-snapshot-id"]
            sid = _snapshot_id(parent, names, n_rows)
            snap = {
                "snapshot-id": sid,
                "parent-snapshot-id": parent,
                "sequence-number": seq,
                "operation": operation,
                "schema-json": evolved_schema,
                "manifest": [
                    dict(
                        {"file": nm, "rows": r, "stats": st},
                        **({"partition": pv} if pv is not None else {}),
                    )
                    for nm, r, st, pv in zip(
                        names, part_rows, part_stats, part_values
                    )
                ],
                "summary": {
                    "added-data-files": len(names),
                    "added-records": n_rows,
                    # visible total = own rows (+ the parent CHAIN's
                    # rows for appends — not every snapshot ever made,
                    # which would double-count rolled-back branches)
                    "total-records": n_rows + (
                        0 if operation == "replace" else sum(
                            e["rows"] for e in _entries_of(meta, parent)
                        )
                    ),
                },
            }
            meta = dict(meta, **{
                "format-version": 1,
                "schema": evolved_schema,
                "snapshots": meta["snapshots"] + [snap],
                "current-snapshot-id": sid,
                "last-sequence-number": seq,
                "partition-spec": spec,
            })
            try:
                _commit(root, meta, version)
            except FileExistsError as e:
                # lost a metadata race (e.g. concurrent rollback); our
                # data-file claim survives and is re-recognized by
                # inode on the next attempt
                last = e
                continue
            return sid
        raise RuntimeError(f"commit conflict persisted {retries}×: {last}")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _footer_stats(md) -> dict[str, list]:
    """Per-file [min, max] per top-level column from the parquet footer
    statistics (JSON-safe: timestamps → epoch micros, strings truncated
    to 32 chars widened to stay a valid bound, bytes/nested skipped)."""
    stats: dict[str, list] = {}
    poisoned: set[str] = set()
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name or name in poisoned:
                continue
            st = col.statistics
            lo = hi = None
            if st is not None and st.has_min_max:
                lo = _json_safe(st.min, is_max=False)
                hi = _json_safe(st.max, is_max=True)
            if lo is None or hi is None:
                # a row group without usable bounds poisons the whole
                # file's bound for this column
                poisoned.add(name)
                stats.pop(name, None)
                continue
            cur = stats.get(name)
            if cur is None:
                stats[name] = [lo, hi]
            else:
                stats[name] = [min(cur[0], lo), max(cur[1], hi)]
    return stats


def _json_safe(v, is_max: bool):
    import datetime

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, datetime.datetime):
        # the epoch must be the REAL epoch: for aware values use the
        # UTC epoch (an epoch constructed in the value's own offset
        # would shift every bound by that offset)
        epoch = datetime.datetime(
            1970, 1, 1,
            tzinfo=datetime.timezone.utc if v.tzinfo else None,
        )
        return int((v - epoch).total_seconds() * 1_000_000)
    if isinstance(v, str):
        if len(v) <= 32:
            return v
        # truncation must WIDEN the bound: a truncated max is made an
        # upper bound by bumping the last bumpable character (Iceberg
        # truncate()); if every char is U+10FFFF there is no valid
        # upper bound — drop it (the column is then poisoned for this
        # file, which only disables pruning, never correctness)
        t = v[:32]
        if is_max:
            for i in range(len(t) - 1, -1, -1):
                if ord(t[i]) < 0x10FFFF:
                    return t[:i] + chr(ord(t[i]) + 1)
            return None
        return t
    return None


def _norm_bound(v):
    """Normalize a caller-supplied prune bound to the stored stat
    representation (datetimes → epoch micros)."""
    import datetime

    if isinstance(v, datetime.datetime):
        return _json_safe(v, is_max=False)
    return v


def _entries_of(meta: dict, snapshot_id: int | None) -> list[dict]:
    """All manifest entries visible at `snapshot_id` (ancestor chain up
    to and including it); current snapshot when None."""
    sid = meta["current-snapshot-id"] if snapshot_id is None else snapshot_id
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    if sid is None:
        return []
    if sid not in by_id:
        raise KeyError(f"unknown snapshot id {sid}")
    entries: list[dict] = []
    cur: int | None = sid
    while cur is not None:
        s = by_id[cur]
        entries = s["manifest"] + entries
        if s.get("operation", "append") == "replace":
            break  # a replace snapshot's manifest IS the full table
        cur = s["parent-snapshot-id"]
    return entries


def _files_of(meta: dict, snapshot_id: int | None) -> list[str]:
    return [e["file"] for e in _entries_of(meta, snapshot_id)]


def _file_matches(stats: dict, prune: dict) -> bool:
    """May this file contain rows satisfying every (lo, hi) bound?
    Missing stats for a column ⇒ cannot prune on it ⇒ keep."""
    for col, (lo, hi) in prune.items():
        b = stats.get(col)
        if b is None:
            continue
        if lo is not None and b[1] < _norm_bound(lo):
            return False
        if hi is not None and b[0] > _norm_bound(hi):
            return False
    return True


def read(spark: SparkSession, root: str,
         snapshot_id: int | None = None,
         prune: dict[str, tuple] | None = None,
         partition_where: dict | None = None) -> DataFrame:
    """Time-travel read: the table as of `snapshot_id` (current if
    None).  Hands Spark the pinned file list — pruning/pushdown/split
    planning identical to a plain parquet scan.

    `prune` = {column: (lo, hi)} drops files whose footer min/max
    bounds PROVE no row can satisfy lo ≤ col ≤ hi (either bound may be
    None) — Iceberg's manifest-level pruning, which skips file listing/
    footer I/O entirely for irrelevant files.  It is a superset
    guarantee, not a filter: the caller still applies the real
    predicate (Spark then prunes row groups from the same footer
    stats).  planned_files() exposes the pruned list for tests.

    `partition_where` = {spec field: value or [values]} keeps only
    files of the named partitions (exact, metadata-only — hidden
    partitioning means the caller never sees the transform column; a
    `{"day(ts)": "2026-08-01"}` predicate never touches data).

    Reads resolve columns against the schema AS OF the snapshot
    (schema evolution: files predating an added column read as null;
    a time-travel read of a pre-evolution snapshot keeps its own
    narrower schema)."""
    meta = _load_meta(root)
    # Iceberg schema resolution: a current-table read uses the CURRENT
    # table schema (evolution is table-level; rollback does not revert
    # it); an explicit time-travel read uses the snapshot's own schema
    sch = _struct_of(
        meta["schema"] if snapshot_id is None
        else _schema_at(meta, snapshot_id)
    )
    files = planned_files(
        root, snapshot_id, prune, partition_where, _meta=meta
    )
    if not files:
        return spark.createDataFrame([], schema=sch)
    return spark.read.schema(sch).parquet(
        *[os.path.join(_data_dir(root), f) for f in files]
    )


def planned_files(root: str, snapshot_id: int | None = None,
                  prune: dict[str, tuple] | None = None,
                  partition_where: dict | None = None,
                  _meta: dict | None = None) -> list[str]:
    meta = _load_meta(root) if _meta is None else _meta
    entries = _entries_of(meta, snapshot_id)
    if partition_where:
        entries = [e for e in entries
                   if _entry_matches_partition(e, partition_where)]
    if prune:
        entries = [e for e in entries
                   if _file_matches(e.get("stats", {}), prune)]
    return [e["file"] for e in entries]


def incremental_read(spark: SparkSession, root: str,
                     from_snapshot_id: int,
                     to_snapshot_id: int | None = None) -> DataFrame:
    """Rows appended AFTER `from_snapshot_id` up to and including
    `to_snapshot_id` (current if None) — Iceberg's incremental append
    scan.  This is the resume primitive: a checkpointed job that
    finished snapshot A processes exactly the new data of snapshot B."""
    meta = _load_meta(root)
    # `from` must be an ancestor of `to` — a cross-branch "increment"
    # (e.g. from a rolled-back sibling) is not an append diff
    to_sid = (meta["current-snapshot-id"]
              if to_snapshot_id is None else to_snapshot_id)
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    cur, segment = to_sid, []
    while cur is not None and cur != from_snapshot_id:
        if cur not in by_id:
            raise KeyError(f"unknown snapshot id {cur}")
        segment.append(by_id[cur])
        cur = by_id[cur]["parent-snapshot-id"]
    if cur != from_snapshot_id:
        raise ValueError(
            f"snapshot {from_snapshot_id} is not an ancestor of "
            f"{to_sid}; incremental reads follow one append chain"
        )
    # the increment is the APPEND snapshots' manifests in (from, to];
    # a replace (compaction) snapshot in the segment rewrites rows the
    # caller already has — crossing one silently would double-read, so
    # refuse (Iceberg's incremental append scan does the same)
    for s in segment:
        if s.get("operation", "append") == "replace":
            raise ValueError(
                "incremental read crosses a replace/compaction "
                f"snapshot {s['snapshot-id']}; re-baseline from a "
                "post-compaction snapshot"
            )
    new = [e["file"] for s in reversed(segment) for e in s["manifest"]]
    sch = _struct_of(
        meta["schema"] if to_snapshot_id is None
        else _schema_at(meta, to_sid)
    )
    if not new:
        return spark.createDataFrame([], schema=sch)
    return spark.read.schema(sch).parquet(
        *[os.path.join(_data_dir(root), f) for f in new]
    )


def expire_snapshots(root: str, keep: list[int] | None = None,
                     retries: int = 5) -> list[str]:
    """Iceberg's expireSnapshots: drop snapshot entries not in `keep`
    (the current snapshot is always kept), then delete data files no
    longer reachable from any remaining snapshot.  A kept snapshot
    whose ancestors were dropped is flattened (its manifest becomes its
    full reachable file set, parent → None) so time-travel to every
    KEPT id keeps working.  Returns the deleted file names.

    Readers pinned to an EXPIRED id lose it — exactly Iceberg's
    contract; expire only what retention policy allows."""
    keep_set = set(keep or [])
    last: Exception | None = None
    for _ in range(retries):
        version = _current_version(root)
        meta = _load_meta(root, version)
        cur = meta["current-snapshot-id"]
        if cur is not None:
            keep_set.add(cur)
        by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
        unknown = keep_set - set(by_id)
        if unknown:
            raise KeyError(f"unknown snapshot ids {sorted(unknown)}")
        kept_snaps = []
        for s in meta["snapshots"]:
            sid = s["snapshot-id"]
            if sid not in keep_set:
                continue
            parent = s["parent-snapshot-id"]
            if parent is not None and parent not in keep_set:
                # re-parent to the nearest KEPT ancestor, absorbing the
                # dropped middle snapshots' files — lineage between two
                # kept snapshots must survive (incremental_read /
                # --incremental-from depend on the ancestor chain)
                anc, crossed_replace = parent, False
                while anc is not None and anc not in keep_set:
                    if by_id[anc].get("operation", "append") == "replace":
                        crossed_replace = True
                    anc = by_id[anc]["parent-snapshot-id"]
                if anc is None:
                    s = dict(s, manifest=_entries_of(meta, sid),
                             **{"parent-snapshot-id": None})
                elif crossed_replace or \
                        s.get("operation", "append") == "replace":
                    # the dropped middle rewrote the table — a diff
                    # manifest against the kept ancestor would make
                    # reads prepend files the rewrite removed, so keep
                    # this snapshot self-contained (its own read stops
                    # here) while the parent pointer preserves ancestry
                    s = dict(s, manifest=_entries_of(meta, sid),
                             operation="replace",
                             **{"parent-snapshot-id": anc})
                else:
                    base = {e["file"] for e in _entries_of(meta, anc)}
                    flat = [e for e in _entries_of(meta, sid)
                            if e["file"] not in base]
                    s = dict(s, manifest=flat,
                             **{"parent-snapshot-id": anc})
            kept_snaps.append(s)
        reachable = {e["file"] for s in kept_snaps for e in s["manifest"]}
        # delete ONLY files referenced by the snapshots we dropped —
        # never "anything unreferenced in data/", which would race a
        # concurrent appender's data-before-metadata publication
        # (Iceberg's removeOrphanFiles has the same hazard and guards
        # with a retention age; referencing-dropped-only needs no age)
        dropped_files = {
            e["file"]
            for s in meta["snapshots"]
            if s["snapshot-id"] not in keep_set
            for e in s["manifest"]
        }
        new_meta = dict(meta, snapshots=kept_snaps)
        try:
            _commit(root, new_meta, version)
        except FileExistsError as e:
            last = e
            continue
        removed = sorted(dropped_files - reachable)
        for f in removed:
            os.unlink(os.path.join(_data_dir(root), f))
        return removed
    raise RuntimeError(f"commit conflict persisted {retries}×: {last}")


def compact(spark: SparkSession, root: str, n_files: int | None = None,
            sort_by: list[str] | None = None) -> int:
    """Rewrite the CURRENT snapshot's data into `n_files` files (default
    = the session's shuffle parallelism) as a "replace" snapshot — the
    small-file compaction every high-ingest table needs: scan planning
    cost and footer pruning quality both degrade with file count.

    `sort_by` additionally range-partitions + sorts the rewrite (e.g.
    ["conv_id", "ts"]) so per-entity scans cluster and per-file min/max
    bounds tighten — Iceberg's sort-order rewrite.

    Validated against concurrent commits: the replace only lands if the
    current snapshot is still the one the rewrite read (expect_parent);
    otherwise RuntimeError — rerun on the new current.  Time travel to
    pre-compaction snapshots keeps working (their files are only
    reclaimed when expire_snapshots drops them); incremental reads must
    not cross the compaction boundary and raise if asked to."""
    meta = _load_meta(root)
    base = meta["current-snapshot-id"]
    if base is None:
        raise ValueError("cannot compact an empty table")
    df = read(spark, root, base)
    if n_files is None:
        n_files = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
    if sort_by:
        df = df.repartitionByRange(n_files, *sort_by) \
               .sortWithinPartitions(*sort_by)
    else:
        df = df.coalesce(n_files)
    # hidden partitioning: the transform values are re-derived from the
    # source columns, so the rewrite keeps the table's spec verbatim
    return append(df, root, operation="replace", expect_parent=base,
                  partition_by=meta.get("partition-spec"))


def remove_orphans(root: str, older_than_s: float = 86400.0) -> list[str]:
    """Delete data files referenced by NO snapshot and older than
    `older_than_s` seconds (Iceberg removeOrphanFiles).  The age guard
    is load-bearing: an unreferenced young file may be a live append's
    data-before-metadata publication; a dead writer's orphan only grows
    older.  Returns the deleted names."""
    import time

    meta = _load_meta(root)
    referenced = {e["file"] for s in meta["snapshots"]
                  for e in s["manifest"]}
    removed = []
    dd = _data_dir(root)
    if os.path.isdir(dd):
        now = time.time()
        for f in sorted(os.listdir(dd)):
            p = os.path.join(dd, f)
            if (f.endswith(".parquet") and f not in referenced
                    and now - os.path.getmtime(p) > older_than_s):
                os.unlink(p)
                removed.append(f)
    return removed


def rollback(root: str, snapshot_id: int, retries: int = 5) -> None:
    """Metadata-only rollback of the current pointer to an earlier
    snapshot.  Data files are immutable, so later snapshots remain
    readable by id (and re-rollback-able forward)."""
    last = None
    for _ in range(retries):
        version = _current_version(root)
        meta = _load_meta(root, version)
        if snapshot_id not in {s["snapshot-id"] for s in meta["snapshots"]}:
            raise KeyError(f"unknown snapshot id {snapshot_id}")
        meta = dict(meta, **{"current-snapshot-id": snapshot_id})
        try:
            _commit(root, meta, version)
            return
        except FileExistsError as e:
            last = e
    raise RuntimeError(f"commit conflict persisted {retries}×: {last}")
