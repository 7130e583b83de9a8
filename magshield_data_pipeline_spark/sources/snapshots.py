"""Snapshot-versioned parquet tables: the minimal table-format core —
versioned manifests, time travel, append/overwrite/compaction — built
on the same atomic-publish primitives as sinks.py / scratch.py.

The jsonl_sink commit (sources/jsonl_sink.py) is the "one job lands
atomically" primitive and its docstring names the gap on purpose: a
cross-job append LEDGER is a table format's job.  This module is that
ledger, reduced to its load-bearing core (the Iceberg/Delta snapshot
contract, stdlib only):

- a table is a directory: immutable data files under ``data/``, one
  JSON manifest per VERSION under ``_manifests/vN.json`` listing the
  exact files that make up that snapshot;
- a manifest is published with stage-then-``os.link`` — exclusive
  creation, so of two racing writers allocating the same version
  exactly ONE wins (optimistic concurrency, the Iceberg commit
  protocol on a filesystem).  Every commit takes ONE path,
  ``_commit``: it describes what it changes relative to its parent
  manifest, ``_build_manifest`` turns that into the manifest for any
  (parent, version), and the loser of a race re-resolves on the new
  latest (pure additions), rebases (``isolation="snapshot"``, provably
  disjoint) or refuses loudly;
- data files are IMMUTABLE and never deleted by table operations:
  ``overwrite`` and ``compact`` publish a new manifest that simply
  stops listing old files, so a reader holding version N's file list
  is never broken by a later commit — snapshot isolation by
  construction (``vacuum`` reclaims files referenced by no RETAINED
  snapshot after a keep-newest-K retention window);
- ``read`` resolves a version (default: latest) to its manifest and
  scans exactly the listed files — time travel is just passing an
  older version; ``read_changes`` scans only the files ADDED between
  two versions (exact CDC for append-only chains, cost proportional
  to the change);
- every manifest CARRIES ITS SCHEMA: ``append`` merges new columns
  into the carried schema (same-name type conflicts fail loudly), and
  ``read`` applies the manifest schema so files written BEFORE an
  added column return null for it — schema evolution as a ledger
  commit, with time travel reading each version under the schema it
  was committed with;
- ``merge`` is copy-on-write MERGE INTO: the manifest's per-file
  min/max stats identify the files that can contain matched keys,
  ONLY those are rewritten (untouched files are carried by reference),
  and the commit validates its base version at publish time —
  a concurrent commit fails the merge loudly instead of being
  lost-updated (the Iceberg serializable-conflict contract);
- every read of a snapshot's rows goes through ONE scan,
  ``_scan_manifest``: the manifest it is given supplies the schema,
  the rename / default / widen histories and the pending delete files
  (a would-be snapshot — ``read_branch`` — is built with
  ``_build_manifest`` and scanned the same way).  Row-level
  rewrites share one core per key form: ``_cow_rewrite`` (copy-on-write
  by key: merge, delete and their branch twins),
  ``_equality_delete_commit`` (merge-on-read by key) and
  ``_positional_commit`` (by predicate: delete_where, update_where).
  An operation resolves its base snapshot once (``_base``).

At 100 TB this is precisely the scan contract that makes planning
cheap: the manifest bounds the file listing (no directory walks), and
per-file min/max column stats in the manifest let the reader prune
files before Spark ever sees them (``min_max`` below records them;
``read`` applies an optional ``prune`` range).

Reference analog: none (the reference swaps ONE workbook per run —
report.py's upload-then-delete); this is the [EXT] lakehouse tier
generalization.
"""

from __future__ import annotations

import json
import os
import re
import struct
import time
import uuid

from magshield_data_pipeline_spark.session import path_stamp, session_memo
from magshield_data_pipeline_spark.sources.ledger_meta import (
    _key_cols,
    _manifest_dir,
    _raw_manifest,
    commit_plans,
    delete_index,
    read_manifest,
    versions,
)
from magshield_data_pipeline_spark.sources.parquet import footer_schema

#: manifests with at most this many file entries inline their whole
#: list in ``vN.json`` (the pre-r12 shape, byte-compatible); above it
#: the list is stored as shared SEGMENT files (see ``_dump_manifest``)
SEG_INLINE_MAX = 64
#: entries per sealed segment file — the reuse granularity
SEG_TARGET = 64


def _write_segment(table_path: str, entries: list[dict]) -> str:
    """Persist one immutable, CONTENT-ADDRESSED segment file and
    return its name.  Content addressing makes segment publication
    idempotent (a commit-retry or rebase that re-derives the same
    entries reuses the file) and race-free (two writers producing the
    same content link the same bytes).  An existing segment gets its
    mtime bumped — the liveness signal vacuum's grace window reads, so
    a segment reused by an IN-FLIGHT commit is never swept between
    segment write and manifest link."""
    import hashlib

    payload = json.dumps({"entries": entries}, sort_keys=True)
    name = (f"seg-{hashlib.sha1(payload.encode()).hexdigest()[:16]}"
            f"-{len(entries)}.json")
    full = os.path.join(_manifest_dir(table_path), name)
    if os.path.exists(full):
        os.utime(full)
        return name
    tmp = f"{full}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(payload)
    try:
        os.link(tmp, full)
    except FileExistsError:
        pass  # concurrent writer published identical content — reuse
    os.unlink(tmp)
    return name


def _dump_manifest(table_path: str, v: int, manifest: dict,
                   fileobj) -> None:
    """Serialize *manifest* as version *v*, storing large file lists
    as shared SEGMENTS — the Iceberg manifest-list idea: commit
    metadata cost is O(delta + touched segments), never O(table
    files).  At 100 TB a table holds ~10^5-10^6 data files; rewriting
    the full list into every commit's manifest would make METADATA the
    write bottleneck and the manifest store a multi-GB hot spot.  Here
    an append re-references the base version's sealed segments
    untouched and writes only its own entries; a delete/merge rewrites
    only the segments containing touched entries.

    Shape: ``{"segments": [seg-<sha>-<n>.json, ...], "files":
    [inline tail]}``; resolution order is segments-then-inline, which
    preserves the writer's carried-then-new construction order.
    Manifests with <= SEG_INLINE_MAX entries keep the flat pre-r12
    shape — small tables and every existing test are byte-compatible.
    The caller's dict is never mutated (publish retry loops reuse it).
    """
    files = manifest.get("files") or []
    if len(files) <= SEG_INLINE_MAX:
        json.dump(manifest, fileobj, sort_keys=True)
        return
    mdir = _manifest_dir(table_path)
    base_groups: list[tuple[str | None, list[dict]]] = []
    if v > 1:
        try:
            base = _raw_manifest(table_path, v - 1)
        except FileNotFoundError:
            base = None
        if base:
            for s in base.get("segments") or []:
                with open(os.path.join(mdir, s)) as f:
                    base_groups.append((s, json.load(f)["entries"]))
            if base.get("files"):
                base_groups.append((None, base["files"]))
    # one pass over the base's groups in order: a group whose entries
    # ALL survive unchanged is reused by name; any run of changed /
    # new entries seals into fresh segments of SEG_TARGET (order
    # preserved: pending runs flush before the next reused segment)
    remaining: dict[str, dict] = {e["path"]: e for e in files}
    seg_names: list[str] = []
    pending: list[dict] = []

    def _flush(final: bool) -> None:
        nonlocal pending
        keep_inline = SEG_INLINE_MAX if final else 0
        while len(pending) > keep_inline:
            take = pending[:SEG_TARGET]
            seg_names.append(_write_segment(table_path, take))
            pending = pending[len(take):]

    for name, entries in base_groups:
        surv = [remaining.pop(e["path"]) for e in entries
                if e["path"] in remaining]
        if not surv:
            continue
        if name is not None and surv == entries:
            _flush(final=False)
            seg_names.append(name)
            os.utime(os.path.join(mdir, name))
        else:
            pending.extend(surv)
    # entries not present in the base (this commit's additions), in
    # the writer's list order
    pending.extend(remaining.values())
    _flush(final=True)
    out = dict(manifest)
    out["segments"] = seg_names
    out["files"] = pending
    json.dump(out, fileobj, sort_keys=True)


def manifest_costs(table_path: str) -> list[dict]:
    """Per-version commit-METADATA cost audit, from raw manifests
    only (zero data I/O): how many file entries each commit actually
    wrote (inline tail + entries inside segments the previous version
    didn't reference) vs how many it carried by segment reuse.  The
    O(delta) claim of ``_dump_manifest``, made measurable."""
    out = []
    mdir = _manifest_dir(table_path)
    prev_segs: set[str] = set()
    for v in versions(table_path):
        m = _raw_manifest(table_path, v)
        segs = m.get("segments") or []
        inline = len(m.get("files") or [])
        written = inline
        total = inline
        reused = 0
        for s in segs:
            n = int(s.rsplit("-", 1)[1].split(".")[0])
            total += n
            if s in prev_segs:
                reused += 1
            else:
                written += n
        out.append({
            "version": v,
            "operation": m.get("operation"),
            "files_total": total,
            "segments": len(segs),
            "segments_reused": reused,
            "entries_written": written,
        })
        prev_segs = set(segs)
    return out


def _merge_schema(carried: dict | None, new: dict) -> dict:
    """Schema evolution rule: carried fields keep their position, new
    columns are APPENDED; a same-name field whose type changed fails
    loudly (type narrowing/widening needs an explicit rewrite, never a
    silent cast — the Iceberg add-column-only contract)."""
    if carried is None:
        return new
    by_name = {f["name"]: f for f in carried["fields"]}
    for f in new["fields"]:
        old = by_name.get(f["name"])
        if old is None:
            continue
        if old["type"] != f["type"]:
            raise ValueError(
                f"schema evolution conflict on column {f['name']!r}: "
                f"committed type {old['type']!r} vs incoming "
                f"{f['type']!r} — add-column is the only implicit "
                "evolution; type changes need an explicit overwrite"
            )
    merged_fields = list(carried["fields"]) + [
        f for f in new["fields"] if f["name"] not in by_name
    ]
    return {"type": "struct", "fields": merged_fields}


#: writer sentinel: ``append(..., partition_by=CURRENT_SPEC)`` lays the
#: commit's files out under the table's ACTIVE partition spec (set by
#: ``set_partition_spec``) — the Iceberg writer contract: the table
#: metadata owns the layout, writers just honor whatever is current,
#: and a spec evolution changes how NEW data lands without touching a
#: byte of old data.
CURRENT_SPEC = object()

#: versioned TABLE metadata: every commit carries each key from its
#: parent manifest until one explicitly replaces it or appends an event
#: to it (``_build_manifest``), and a rebase refuses when any of them
#: drifted (``_meta_drift``).  CHECK constraints, the active partition
#: spec, and the rename / initial-default / drop / widen histories
#: that let readers map each file's stored columns by sequence number.
_TABLE_META = ("constraints", "partition_spec", "renames", "defaults",
               "drops", "widens")


def _evolve_schema(parent: dict, schema: dict) -> dict:
    """Append's implicit add-column evolution of the parent's schema by
    the incoming *schema* (``_merge_schema``), refusing to re-introduce
    a DROPPED name: that would resurrect old files' stale bytes — the
    drop/re-add handshake requires ``add_column``, which masks them
    with an initial default."""
    carried = parent.get("schema")
    dropped = {d["col"] for d in parent.get("drops") or []}
    names = {f["name"] for f in (carried or {"fields": []})["fields"]}
    revived = [f["name"] for f in schema["fields"]
               if f["name"] in dropped and f["name"] not in names]
    if revived:
        raise ValueError(
            f"column(s) {revived} were previously DROPPED — re-add via "
            "snapshots.add_column (implicit re-introduction would "
            "resurrect old files' stale values)"
        )
    return _merge_schema(carried, schema)


def _build_manifest(parent: dict | None, v: int, c: dict,
                    rebased_from: int | None = None) -> dict:
    """The manifest that commit description *c* publishes as version
    *v* on top of *parent* (None for a table's first commit) — the one
    place every ledger manifest is written.  A description states the
    commit relative to its parent, so a retry on a newer latest or a
    rebase is the same call with another ``(parent, v)``:

    - ``op`` and ``tags``: the operation name and the extra keys it
      records (``mode``, ``key``, ``txn``, ``batch_id``,
      ``replaced_partitions``, ``rollback_of``, ...);
    - ``add`` / ``add_deletes``: the data and delete entries the
      commit wrote, stamped ``seq = v`` — what lets a merge-on-read
      delete apply only to data committed BEFORE it (the Iceberg v2
      sequence-number contract); carried entries keep the seq of the
      commit that created them;
    - ``drop``: paths of parent data or delete files the commit stops
      listing; ``replace=True`` lists none of the parent's (overwrite,
      compact: the new files ARE the content, and pending deletes are
      materialized or moot);
    - ``schema``: None carries the parent's; otherwise it replaces it,
      or with ``evolve=True`` is merged into it (``_evolve_schema``);
    - ``meta`` / ``events``: per ``_TABLE_META`` key, a replacement
      value, or an event appended to the carried history and stamped
      with ``v`` (readers undo renames, fill defaults and resolve
      widened types by comparing event versions to file sequence
      numbers).  Empty values are not written.

    ``onto`` builds on that manifest instead of the parent (rollback:
    an empty commit on top of an older snapshot, at the next version).
    ``rebased_from`` records the version a rebased commit first tried.
    """
    parent = c.get("onto") or parent or {}
    drop = c.get("drop") or ()

    def carried(entries):
        if c.get("replace"):
            return []
        return [e for e in entries or [] if e["path"] not in drop]

    m = {**(c.get("tags") or {}), "operation": c["op"], "version": v,
         "committed_at": time.time()}
    m["files"] = carried(parent.get("files")) + [
        {**e, "seq": v} for e in c.get("add") or []]
    dels = carried(parent.get("delete_files")) + [
        {**e, "seq": v} for e in c.get("add_deletes") or []]
    if dels:
        m["delete_files"] = dels
    schema = c.get("schema")
    if schema is None:
        schema = parent.get("schema")
    elif c.get("evolve"):
        schema = _evolve_schema(parent, schema)
    if schema is not None:
        m["schema"] = schema
    meta, events = c.get("meta") or {}, c.get("events") or {}
    for k in _TABLE_META:
        val = meta[k] if k in meta else parent.get(k)
        if k in events:
            val = list(val or []) + [{**events[k], "v": v}]
        if val:
            m[k] = val
    if rebased_from is not None:
        m["rebased_from"] = rebased_from
    return m


def _try_link(table_path: str, v: int, manifest: dict) -> bool:
    """One exclusive-create publish attempt of *manifest* as version
    *v* — stage, then ``os.link`` (of two writers allocating the same
    version exactly ONE wins): True iff this writer won.  The staged
    file is cleaned up either way and nothing is discarded on a loss,
    so the caller may retry or rebase with the same data files."""
    d = _manifest_dir(table_path)
    staged = os.path.join(d, f".staged-{uuid.uuid4().hex}.json")
    with open(staged, "w") as f:
        _dump_manifest(table_path, v, manifest, f)
    try:
        os.link(staged, os.path.join(d, f"v{v}.json"))
    except FileExistsError:
        return False
    finally:
        os.unlink(staged)
    return True


def _link_json(path: str, payload: dict) -> bool:
    """Exclusive-create *path* holding *payload* as JSON — stage a
    temp file beside it, then ``os.link`` (of two writers of one path
    exactly ONE wins): True iff this writer created it.  The temp name
    (``<path>.tmp-<hex>``) is one no lister of tags, branches or group
    journals reads, and it is removed either way."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(payload, f, sort_keys=True)
    try:
        os.link(tmp, path)
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    return True


def _latest(table_path: str) -> tuple[int, dict | None]:
    vs = versions(table_path)
    return (vs[-1], read_manifest(table_path, vs[-1])) if vs else (0, None)


def _base(table_path: str, who: str,
          version: int | None = None) -> tuple[int, dict]:
    """``(version, manifest)`` of *version* (default: the latest) — the
    snapshot an operation reads.  An empty table, or a version not
    retained, fails loudly in *who*'s name."""
    vs = versions(table_path)
    if not vs:
        raise ValueError(f"{who}: {table_path} has no versions")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(f"{who}: version {v} not in {vs} at {table_path}")
    return v, read_manifest(table_path, v)


def _commit(table_path: str, c: dict, *, who: str | None = None,
            base: tuple[int, dict] | None = None, conflict=None,
            check=None, isolation: str = "serializable",
            race_inject=None, discard: bool = True,
            latest: tuple[int, dict | None] | None = None) -> int | None:
    """Publish commit description *c* (see ``_build_manifest``) — the
    one commit path of the ledger.  Each attempt builds the manifest
    for ``(parent, parent version + 1)`` and links it (``_try_link``);
    a lost race is handled by one of three policies:

    - RE-RESOLVE (no *base*): the commit adds files or metadata
      without reading data, so the parent is simply the CURRENT latest
      on every attempt — a concurrent commit that wins the version
      race is carried, never lost-updated away (append, stream-append,
      adopt, overwrite, the schema / constraint / spec commits, an
      append-only branch publish, rollback).
      *check(parent_version, parent)* runs before each attempt: it may
      raise (a CHECK constraint landed and the data fails it, or the
      constraint set drifted) or return True to stop without committing
      (an epoch or rollback already in place) — the written files are
      then reclaimed and None is returned.  *latest* is the
      ``(version, manifest)`` the caller already resolved (and
      validated against): the first attempt's parent, saving a read.
    - REBASE (*base* given, ``isolation="snapshot"``, a *conflict*
      check): the commit read *base* = ``(version, manifest)``, so its
      first attempt is exactly base+1.  On a loss, ``conflict(latest)``
      decides whether the commits in between are provably disjoint
      from what it read — file-level validation from manifests, no
      data re-read (``_cow_rebase_conflict``, ``_meta_drift``,
      ``_positional_conflict``).  If so the same description is
      re-built on the latest, reusing the written data files: a rebase
      costs one manifest link, never a rewrite — the Iceberg
      commit.retry contract that lets concurrent writers compose.
    - REFUSE (otherwise): the written files are reclaimed and the
      conflict surfaces as a loud RuntimeError instead of a lost update
      (the Iceberg validate-snapshot-id contract; the caller redoes
      the operation on the new snapshot).  ``discard=False`` keeps the
      files when something else still references them (a branch).

    *race_inject* is a deterministic race-injection hook for tests and
    registry queries: called once, after the data files are on disk and
    before the first attempt — a commit it makes is exactly a
    concurrent writer winning the race.  A committed ``txn`` or
    ``batch_id`` tag advances its durable high-water file (the replay
    check that survives vacuum).  Returns the committed version."""
    os.makedirs(_manifest_dir(table_path), exist_ok=True)
    written = ((c.get("add") or []) + (c.get("add_deletes") or [])
               if discard else [])
    if race_inject is not None:
        race_inject()
    pv, parent = base or latest or _latest(table_path)
    rebased_from = None
    while True:
        if check is not None and check(pv, parent):
            _discard_commit_dirs(table_path, written)
            return None
        v = pv + 1
        if _try_link(table_path, v,
                     _build_manifest(parent, v, c, rebased_from)):
            tags = c.get("tags") or {}
            if tags.get("txn"):
                app, txn_v = tags["txn"]
                _advance_marker(_txn_path(table_path, app), txn_v)
            if tags.get("batch_id") is not None:
                _advance_marker(_hw_path(table_path), tags["batch_id"])
            return v
        pv, parent = _latest(table_path)
        if base is None:
            continue  # re-resolve against the new latest
        if isolation != "snapshot" or conflict is None:
            _discard_commit_dirs(table_path, written)
            raise RuntimeError(
                f"{who}: concurrent commit took v{v} at {table_path} "
                f"after this {who} read its base — retry against the "
                "new snapshot (serializable conflict)"
            )
        why = conflict(parent)
        if why:
            _discard_commit_dirs(table_path, written)
            raise RuntimeError(
                f"{who}: snapshot-isolation conflict at {table_path}: "
                f"{why} — redo the {who} against the new snapshot"
            )
        rebased_from = base[0] + 1


def _publish_manifest(table_path: str, operation: str,
                      entries: list[dict], carry: bool = False,
                      schema: dict | None = None, check=None,
                      latest: tuple[int, dict | None] | None = None) -> int:
    """Re-resolving commit of freshly written *entries*: with
    ``carry=True`` they join the latest snapshot's files and *schema*
    (``StructType.jsonValue()``) evolves its schema — append
    semantics; otherwise they REPLACE the content and *schema* the
    schema (overwrite).  Table metadata is carried either way."""
    return _commit(table_path, {
        "op": operation, "add": entries, "replace": not carry,
        "schema": schema, "evolve": carry,
    }, check=check, latest=latest)


def _validated(df, table_path: str,
               latest: tuple[int, dict | None]) -> dict:
    """Validate *df* against the CHECK constraints of *latest* (the
    parent a re-resolving commit's first attempt uses) and return that
    constraint set, for ``_revalidating``."""
    cons = (latest[1] or {}).get("constraints") or {}
    _validate_constraints(df, table_path, cons)
    return cons


def _revalidating(df, table_path: str, validated: dict | None):
    """A ``_commit`` check closing the constraint TOCTOU window: a
    CHECK constraint added between the caller's validation of *df* and
    the link would commit unvalidated rows, so re-validate *df* against
    the set the commit will actually carry whenever it differs from
    *validated* (rare: only on a lost race or a constraint landing
    mid-commit).  Raises on violation, table unchanged."""
    def check(_pv, parent) -> bool:
        cons = (parent or {}).get("constraints") or {}
        if cons != (validated or {}):
            _validate_constraints(df, table_path, cons)
        return False

    return check


_NUMERIC_TYPES = ("long", "integer", "double", "float", "short", "decimal")


def _key_store(key):
    """The manifest form of a key spec: the bare string for a single
    column (byte-compatible with every pre-composite manifest), the
    list for composites."""
    cols = _key_cols(key)
    return cols[0] if len(cols) == 1 else cols


def _entry_overlaps(e: dict, kbounds: dict) -> bool:
    """Can manifest entry *e* hold a row inside the per-column
    bounding box *kbounds* ({col: (lo, hi)})?  Disjoint on ANY
    stats-backed column rules the file out; columns without recorded
    stats can't rule anything out (conservative, safe never wrong)."""
    for c, (lo, hi) in kbounds.items():
        mn = e.get("stats", {}).get(f"min_{c}")
        mx = e.get("stats", {}).get(f"max_{c}")
        if mn is None or mx is None:
            continue
        if mn > hi or mx < lo:
            return False
    return True


def _stat_value(v):
    """JSON-safe manifest stat: integers stay EXACT Python ints (JSON
    has arbitrary-precision integers), floats/decimals coerce to float,
    strings pass through.  Coercing longs to float64 would silently
    round keys beyond 2^53 — the repo's own cid packing anticipates
    63-bit id spaces — and a rounded-NARROWER [min,max] makes merge's
    stats pruning wrongly carry a file that does contain a matched key
    (silent duplicate keys).  ADVICE r10.  Production formats truncate
    string bounds (Iceberg: 16 chars, with increment-the-last-char
    upper-bound semantics so truncation never under-reports a max); the
    fixture keys are short, so full values keep the pruning exact
    without that machinery."""
    if v is None:
        return None
    if isinstance(v, str):
        return v
    if isinstance(v, int) and not isinstance(v, bool):
        return v
    return float(v)


#: Bloom hash functions per filter: xxhash64(value, seed) for seed in
#: range(_BLOOM_K) — the engine's own 64-bit hash, so probe hashing can
#: be computed by the SAME expression and never drifts from the build.
_BLOOM_K = 4


def _bloom_position_exprs(col: str, m: int) -> list:
    from pyspark.sql import functions as F

    return [
        F.pmod(F.xxhash64(F.col(col), F.lit(s)), F.lit(m)).cast("long")
        for s in range(_BLOOM_K)
    ]


def _attach_blooms(spark, table_path: str, target: str, abs_target: str,
                   sub: str, entries: list[dict],
                   bloom_for: dict[str, int]) -> None:
    """Build one Bloom filter SIDECAR file per (data file, column) and
    record it on the manifest entries — the Iceberg-puffin shape:
    blobs live next to the commit's data files (``_blooms/`` under the
    commit dir), the manifest carries ``{m, k, path}`` per column, and
    readers consult the bitmap to skip files whose min/max range can't
    prune (hash-scattered keys make every file span the full range, so
    range stats keep everything; a bloom answers "definitely absent"
    per file in O(k) bit probes).

    *bloom_for* maps column -> filter size in BITS (caller-sized, like
    parquet's ndv parameter: ~10 bits per expected distinct value per
    file keeps the false-positive rate near 1%).  Build cost is one
    extra pass over the just-written files, all engine-side: positions
    are k xxhash64 expressions, the bitmap is assembled as 64-bit words
    by ``bit_or`` (one shuffle keyed on (file, word)), and each file's
    word list — at most m/64 rows — is written by an Arrow-batched
    ``applyInPandas`` group task, so no bitmap ever routes through the
    driver.  Files where the column is entirely null get no bloom and
    are kept conservatively by readers (same contract as missing
    stats)."""
    import pandas as pd
    from pyspark.sql import functions as F

    bloom_rel = os.path.join(sub, "_blooms")
    abs_bloom = os.path.join(os.path.abspath(table_path), bloom_rel)
    os.makedirs(abs_bloom, exist_ok=True)
    by_path = {e["path"]: e for e in entries}
    for col, m in bloom_for.items():
        if m % 64 or m <= 0:
            raise ValueError(
                f"bloom_for[{col!r}]: bits must be a positive multiple "
                f"of 64, got {m}"
            )
        pos = (
            spark.read.parquet(target)
            .where(F.col(col).isNotNull())
            .select(
                F.input_file_name().alias("_f"),
                F.explode(F.array(*_bloom_position_exprs(col, m))
                          ).alias("_p"),
            )
            .distinct()
        )
        words = (
            pos.select(
                "_f",
                (F.col("_p") / 64).cast("long").alias("_w"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(_p % 64 AS INT))"
                ).alias("_b"),
            )
            .groupBy("_f", "_w")
            .agg(F.bit_or("_b").alias("_bits"))
        )
        n_bytes = m // 8

        def _write_bloom(pdf: "pd.DataFrame") -> "pd.DataFrame":
            file_uri = pdf["_f"].iloc[0]
            rel_name = os.path.relpath(
                file_uri.replace("file:", ""), abs_target
            ).replace(os.sep, "__")
            buf = bytearray(n_bytes)
            for w, bits in zip(pdf["_w"], pdf["_bits"]):
                struct.pack_into("<q", buf, int(w) * 8, int(bits))
            name = f"{rel_name}.{col}.bloom"
            with open(os.path.join(abs_bloom, name), "wb") as fh:
                fh.write(bytes(buf))
            return pd.DataFrame({"_f": [file_uri], "name": [name]})

        got = words.groupBy("_f").applyInPandas(
            _write_bloom, "_f string, name string"
        ).collect()  # bounded: one row per data file in this commit
        for r in got:
            rel_name = os.path.relpath(
                r["_f"].replace("file:", ""), abs_target
            )
            entry = by_path.get(os.path.join(sub, rel_name))
            if entry is None:
                raise ValueError(
                    f"bloom build saw unknown file {rel_name!r}"
                )
            entry.setdefault("bloom", {})[col] = {
                "m": m,
                "k": _BLOOM_K,
                "path": os.path.join(bloom_rel, r["name"]),
            }


def _bloom_probe_positions(spark, dtype, values: list, m: int
                           ) -> list[list[int]]:
    """Hash the probe *values* with the SAME engine expression the
    build used (xxhash64 is seed- and type-sensitive, so computing the
    positions in Python would silently diverge).  One tiny local job;
    bounded: len(values) rows × k positions."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    df = spark.createDataFrame(
        [(v,) for v in values], StructType([StructField("c", dtype)])
    )
    rows = df.select(
        F.array(*_bloom_position_exprs("c", m)).alias("ps")
    ).collect()
    return [[int(p) for p in r["ps"]] for r in rows]


def _bloom_may_contain(buf: bytes, positions: list[int]) -> bool:
    return all(buf[p >> 3] & (1 << (p & 7)) for p in positions)


#: resolution of each dimension inside a Z-value (16 bits/dim keeps a
#: 4-dim Z-value inside a signed 64-bit long)
_Z_BITS = 16


def _zorder_expr(df, cols: list[str]):
    """Build the interleaved-bit Z-value Column for *cols*: each
    column is affine-scaled to ``_Z_BITS`` bits against its global
    [min, max] (ONE tiny agg job, single-row collect — bounded), then
    bit i of column j lands at position ``i * n + j``.  The Z-value is
    a flat SUM of ``_Z_BITS × n`` independent terms — no recurrence,
    so whole-stage codegen sees one linear expression.  Interleaving
    gives every file a tight bounding BOX over all *cols* at once,
    which is what makes multi-column min/max pruning effective: linear
    clustering sorts the first column perfectly and scatters the rest,
    so a predicate on the second column prunes nothing."""
    from pyspark.sql import functions as F

    if len(cols) < 2:
        raise ValueError("zorder_by needs at least 2 columns")
    if _Z_BITS * len(cols) > 63:
        raise ValueError(
            f"zorder_by: {len(cols)} columns x {_Z_BITS} bits/dim "
            "exceeds a 64-bit Z-value"
        )
    numeric = {
        f.name for f in df.schema.fields
        if f.dataType.typeName() in _NUMERIC_TYPES
    }
    bad = [c for c in cols if c not in numeric]
    if bad:
        raise ValueError(f"zorder_by: non-numeric column(s) {bad}")
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")]
    row = df.agg(*aggs).collect()[0]  # single-row bounds probe — bounded
    top = (1 << _Z_BITS) - 1
    n = len(cols)
    terms = []
    for j, c in enumerate(cols):
        lo, hi = row[f"lo_{c}"], row[f"hi_{c}"]
        if lo is None:
            continue  # all-null dimension contributes nothing
        span = float(hi) - float(lo)
        scaled = (
            F.lit(0).cast("long") if span <= 0 else
            F.least(
                F.lit(top).cast("long"),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.floor(
                        (F.col(c).cast("double") - float(lo))
                        / span * top
                    ).cast("long"),
                ),
            )
        )
        # nulls sort to the low corner (position 0), like NULLS FIRST
        scaled = F.coalesce(scaled, F.lit(0).cast("long"))
        for i in range(_Z_BITS):
            weight = 1 << (i * n + j)
            terms.append(
                (F.shiftright(scaled, i).bitwiseAND(F.lit(1).cast("long")))
                * F.lit(weight).cast("long")
            )
    if not terms:
        # every z-order column entirely null (ADVICE r11 low: terms[0]
        # raised IndexError): no ordering information exists — a
        # constant Z-value degrades to an unclustered rewrite
        return F.lit(0).cast("long")
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z



#: HyperLogLog registers per NDV sketch (m=256: ~6.5% standard error,
#: 256 small ints of manifest JSON per file per column)
_NDV_M = 256


def _attach_ndv(spark, table_path: str, target: str, abs_target: str,
                sub: str, entries: list[dict],
                ndv_for: list[str]) -> None:
    """Record a per-(file, column) HyperLogLog sketch on the manifest
    entries — the Iceberg theta-sketch-in-puffin idea reduced to HLL:
    ``approx_ndv`` then answers distinct-count questions from PURE
    METADATA (register merge is a max, so the union of files is the
    max of their registers — associative, order-free, and exactly
    equal to a single-pass sketch over the same rows).  Build cost:
    one engine-side agg over the just-written files (bucket =
    xxhash64 mod m, register = leading-zero rank of the remaining 56
    bits); the driver collects at most m rows per file — bounded
    metadata, like the min/max stats."""
    from pyspark.sql import functions as F

    by_path = {e["path"]: e for e in entries}
    for col in ndv_for:
        h = F.xxhash64(F.col(col))
        w = F.expr(f"shiftrightunsigned(xxhash64({col}), 8)")
        rank = F.when(w == 0, F.lit(57)).otherwise(
            F.lit(57) - F.length(F.expr(f"bin(shiftrightunsigned("
                                        f"xxhash64({col}), 8))"))
        )
        regs = (
            spark.read.parquet(target)
            .where(F.col(col).isNotNull())
            .select(
                F.input_file_name().alias("_f"),
                F.pmod(h, F.lit(_NDV_M)).cast("int").alias("_b"),
                rank.cast("int").alias("_r"),
            )
            .groupBy("_f", "_b")
            .agg(F.max("_r").alias("_r"))
            .collect()
        )  # bounded: at most m registers per file
        per_file: dict[str, dict[str, int]] = {}
        for r in regs:
            rel = os.path.relpath(r["_f"].replace("file:", ""), abs_target)
            per_file.setdefault(rel, {})[str(r["_b"])] = int(r["_r"])
        for rel, registers in per_file.items():
            entry = by_path.get(os.path.join(sub, rel))
            if entry is None:
                raise ValueError(f"ndv build saw unknown file {rel!r}")
            entry.setdefault("ndv", {})[col] = {
                "m": _NDV_M, "regs": registers,
            }


def approx_ndv(table_path: str, col: str, version: int | None = None
               ) -> float:
    """Approximate COUNT(DISTINCT col) from manifest metadata alone —
    zero data I/O at any table size: merge every file's HLL registers
    (max per bucket) and apply the standard HyperLogLog estimator with
    the linear-counting small-range correction.  Raises when any file
    lacks a sketch for *col* (rewrite with ``ndv_for=``) — a partial
    merge would silently under-count."""
    import math

    merged = [0] * _NDV_M
    for e in _base(table_path, "approx_ndv", version)[1]["files"]:
        sk = (e.get("ndv") or {}).get(col)
        if sk is None:
            if e["rows"] == 0:
                continue  # an empty file has nothing to sketch
            raise ValueError(
                f"approx_ndv: file {e['path']!r} has no NDV sketch for "
                f"{col!r} — write with ndv_for=[...] (or compact with it)"
            )
        if sk["m"] != _NDV_M:
            raise ValueError(f"approx_ndv: register-count mismatch "
                             f"({sk['m']} != {_NDV_M})")
        for b, r in sk["regs"].items():
            bi = int(b)
            if r > merged[bi]:
                merged[bi] = r
    m = _NDV_M
    alpha = 0.7213 / (1 + 1.079 / m)
    est = alpha * m * m / sum(2.0 ** -r for r in merged)
    zeros = merged.count(0)
    if est <= 2.5 * m and zeros:
        est = m * math.log(m / zeros)  # linear counting, small range
    return est



def _partition_spec(partition_by):
    """Normalize ``partition_by``: a plain string is the identity
    spec; a tuple is a HIDDEN-PARTITIONING transform (the Iceberg
    idea: the table partitions on a DERIVED value, readers keep
    querying the raw column, and pruning maps raw predicates through
    the transform) — ``("bucket", col, N)``, ``("truncate", col, W)``
    (strings: prefix; integers: floor to a W-multiple) or
    ``("month", col)``.  Returns (name, source, transform, param)."""
    if partition_by is None:
        return None
    if isinstance(partition_by, str):
        return (partition_by, partition_by, "identity", None)
    t = partition_by[0]
    if t == "bucket":
        _, col, n = partition_by
        return (f"_p_bucket_{col}", col, "bucket", int(n))
    if t == "truncate":
        _, col, w = partition_by
        return (f"_p_truncate_{col}", col, "truncate", int(w))
    if t == "month":
        _, col = partition_by
        return (f"_p_month_{col}", col, "month", None)
    raise ValueError(f"unknown partition transform {t!r}")


def _transform_expr(spec, dtype_name: str):
    """The engine-side Column computing a spec's partition value."""
    from pyspark.sql import functions as F

    _name, col, t, param = spec
    if t == "identity":
        return F.col(col)
    if t == "bucket":
        return F.pmod(F.xxhash64(F.col(col)), F.lit(param)).cast("int")
    if t == "truncate":
        if dtype_name == "string":
            return F.substring(F.col(col), 1, param)
        return (F.col(col) - F.pmod(F.col(col), F.lit(param))).cast("long")
    if t == "month":
        return F.date_format(F.col(col), "yyyy-MM")
    raise ValueError(f"unknown transform {t!r}")


def _transform_probe_values(spark, spec, dtype, values: list) -> list[str]:
    """Map raw probe *values* through a partition transform, AS
    STRINGS (hive directory encoding).  Bucket hashes through a tiny
    engine job so the probe uses the SAME xxhash64 as the write (the
    no-Python-hash-drift rule, as with blooms); truncate is exact
    integer/prefix arithmetic."""
    _name, _col, t, param = spec
    if t == "identity":
        return [str(v) for v in values]
    if t == "truncate":
        return [
            str(v[:param]) if isinstance(v, str) else str(v - (v % param))
            for v in values
        ]
    if t == "bucket":
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructField, StructType

        df = spark.createDataFrame(
            [(v,) for v in values], StructType([StructField("c", dtype)])
        )
        rows = df.select(
            F.pmod(F.xxhash64(F.col("c")), F.lit(param)).cast("int")
            .alias("b")
        ).collect()  # bounded: one row per probe value
        return [str(r["b"]) for r in rows]
    raise ValueError(
        f"key_in cannot prune through transform {t!r} (equality "
        "pruning supports identity/bucket/truncate)"
    )


def _active_spec(m: dict | None):
    """Manifest *m*'s active partition spec in ``partition_by``
    argument form (None / identity column name / transform tuple) —
    None when never set or cleared (the empty-dict tombstone
    ``set_partition_spec(path, None)`` writes).  Rewrites and
    post-images land under it: an upsert-maintained table keeps its
    declared layout instead of shedding partition metadata with every
    rewritten file (the Iceberg writer contract)."""
    sp = (m or {}).get("partition_spec")
    if not sp:
        return None
    t = sp["transform"]
    if t == "identity":
        return sp["source"]
    if t == "month":
        return ("month", sp["source"])
    return (t, sp["source"], sp["param"])


def set_partition_spec(table_path: str, partition_by) -> int:
    """Declare the table's ACTIVE partition spec as a METADATA-ONLY
    ledger commit (operation ``set-partition-spec``, files carried by
    reference) — Iceberg partition-spec EVOLUTION: existing files keep
    the spec they were written under (each manifest entry records its
    own transform, and the reader prunes every file through ITS
    recorded spec), while writers passing ``partition_by=CURRENT_SPEC``
    lay out new commits under the new declaration.  Nothing is
    rewritten: evolving month(date) → bucket(key, 16) on a 100 TB
    table costs one manifest write, and a point lookup afterwards
    prunes the old generation through the month transform's stats and
    the new generation through the bucket directory values.  Pass
    ``None`` to clear the spec (new CURRENT_SPEC writes land
    unpartitioned).  Returns the committed version.

    Reference analog: the reference rewrites its whole extract per run
    (callable.py), so layout changes are free there; an immutable
    ledger needs the spec to be VERSIONED metadata instead.
    """
    spec = _partition_spec(partition_by)  # validates the transform
    if spec is None:
        stored = {}  # tombstone: explicit CLEAR (None would mean carry)
    else:
        name, source, transform, param = spec
        stored = {"name": name, "source": source,
                  "transform": transform, "param": param}
    return _commit(table_path, {"op": "set-partition-spec",
                                "meta": {"partition_spec": stored}})


def active_partition_spec(table_path: str, version: int | None = None):
    """The table's active partition spec at *version* (default latest)
    — ``_active_spec`` of its manifest; None for an empty table."""
    if not versions(table_path):
        return None
    return _active_spec(_base(table_path, "active_partition_spec",
                              version)[1])


def _resolve_partition_by(latest: tuple[int, dict | None], partition_by):
    """Writer-side CURRENT_SPEC resolution: the sentinel reads the
    active spec off the *latest* manifest; anything else passes through
    (an explicit per-commit spec always wins — that is what makes
    mixed-spec tables possible at all)."""
    if partition_by is CURRENT_SPEC:
        return _active_spec(latest[1])
    return partition_by


#: Footer string bounds at or beyond this many UTF-8 bytes are treated
#: as potentially TRUNCATED by the parquet writer (parquet-mr caps and
#: trims large binary statistics) and fall back to the engine agg job —
#: a trimmed bound is still a sound pruning bound but is not the exact
#: engine min/max, and manifest stats are hash-load-bearing here.
_STAT_STR_GUARD = 64


def _footer_file_stats(abs_target: str, rel_files: list[str], schema,
                       stat_cols: list[str]):
    """Per-file (row count, min/max) straight from the parquet footers
    the commit's write just produced — O(footers) driver-side metadata,
    zero data re-read (the Iceberg/Delta stats contract; guide §6).

    Returns ``(by_file, unsafe_cols)``: ``by_file[rel] = {"_n": rows,
    "min_c": v, "max_c": v, ...}`` for every column whose footer bounds
    are PROVABLY identical to what the engine's own min/max would
    compute, and ``unsafe_cols`` — columns where that proof fails and
    the caller must run the one-job grouped agg instead:

    - decimals (physical encoding varies; the agg job is authoritative);
    - float/double bounds that are 0.0/NaN (writers may normalize ±0.0
      and NaN ordering differs between engines);
    - string bounds at/over ``_STAT_STR_GUARD`` UTF-8 bytes (possible
      writer truncation).  Shorter strings are exact: Spark 4's default
      UTF8_BINARY collation orders by UTF-8 bytes, the same total order
      parquet statistics use;
    - any chunk with rows but no usable min/max statistics.

    All-null columns yield ``None`` bounds, matching the engine agg.
    Row counts come from footer metadata and are always exact."""
    import math

    import pyarrow.parquet as pq

    dtype_of = {f.name: f.dataType.typeName() for f in schema.fields}
    unsafe: set[str] = {c for c in stat_cols
                        if dtype_of.get(c) == "decimal"}
    by_file: dict[str, dict] = {}
    per_file_bounds: dict[str, dict[str, tuple]] = {}
    for rel in rel_files:
        md = pq.read_metadata(os.path.join(abs_target, rel))
        by_file[rel] = {"_n": md.num_rows}
        if md.num_rows == 0:
            continue
        idx_of = {
            # dotted path, so a struct leaf can never shadow a
            # same-named TOP-LEVEL stat column
            getattr(md.schema.column(i), "path", md.schema.column(i).name): i
            for i in range(md.num_columns)
        }
        bounds = per_file_bounds.setdefault(rel, {})
        for c in stat_cols:
            if c in unsafe:
                continue
            i = idx_of.get(c)
            if i is None:
                unsafe.add(c)
                continue
            lo = hi = None
            for rg in range(md.num_row_groups):
                cc = md.row_group(rg).column(i)
                st = cc.statistics
                n_rg = md.row_group(rg).num_rows
                if (st is not None and st.has_null_count
                        and st.null_count == n_rg):
                    continue  # all-null chunk: contributes no bounds
                if st is None or not st.has_min_max:
                    unsafe.add(c)
                    break
                mn, mx = st.min, st.max
                if isinstance(mn, bytes) or isinstance(mx, bytes):
                    unsafe.add(c)  # undecoded binary: not provably str
                    break
                if isinstance(mn, float) and (
                    mn == 0.0 or mx == 0.0
                    or math.isnan(mn) or math.isnan(mx)
                ):
                    unsafe.add(c)
                    break
                if isinstance(mn, str) and (
                    len(mn.encode()) >= _STAT_STR_GUARD
                    or len(mx.encode()) >= _STAT_STR_GUARD
                ):
                    unsafe.add(c)
                    break
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            else:
                bounds[c] = (lo, hi)
    for rel, bounds in per_file_bounds.items():
        got = by_file[rel]
        for c in stat_cols:
            if c in unsafe:
                continue
            lo, hi = bounds.get(c, (None, None))
            got[f"min_{c}"] = lo
            got[f"max_{c}"] = hi
    return by_file, sorted(unsafe)


def _write_data_files(df, table_path: str, n_files: int,
                      cluster_by: list[str] | None = None,
                      partition_by: str | tuple | None = None,
                      bloom_for: dict[str, int] | None = None,
                      zorder_by: list[str] | None = None,
                      ndv_for: list[str] | None = None
                      ) -> list[dict]:
    """Land *df* as immutable parquet files under a commit-unique
    subdirectory of ``data/`` and return their manifest entries (path
    relative to the table root, row count, and min/max stats for every
    numeric AND string column — the file-pruning index).

    ``cluster_by`` range-partitions + sorts the rows on the given
    columns before writing, so each file covers a DISJOINT key range
    and the min/max stats become a real pruning index (the
    OPTIMIZE/CLUSTER BY story: interleaved data makes every file span
    the full key range and stats prune nothing).

    ``partition_by`` writes hive-layout ``col=value`` subdirectories
    (one shuffle keyed on the partition column, at most *n_files*
    files per value) and records the EXACT partition value on each
    manifest entry — identity partition-spec: readers prune on
    partition VALUES (not just min/max ranges), and ``_scan`` restores
    the column from the manifest instead of the file footer.  Mutually
    exclusive with ``cluster_by``."""
    from pyspark.sql import functions as F

    if sum(1 for x in (cluster_by, partition_by, zorder_by) if x) > 1:
        raise ValueError(
            "pass at most one of cluster_by / partition_by / zorder_by"
        )
    spec = _partition_spec(partition_by)
    sub = os.path.join("data", f"snap-{uuid.uuid4().hex[:12]}")
    target = os.path.join(table_path, sub)
    if spec:
        p_name, p_source, p_transform, _p = spec
        dtype_name = dict(
            (f.name, f.dataType.typeName()) for f in df.schema.fields
        ).get(p_source)
        if dtype_name is None:
            raise ValueError(f"partition_by: no column {p_source!r}")
        pv = _transform_expr(spec, dtype_name)
        staged = (df if p_transform == "identity"
                  else df.withColumn(p_name, pv))
        (
            staged.repartition(n_files, F.col(p_name))
            .write.partitionBy(p_name)
            .parquet(target)
        )
    elif zorder_by:
        # range-partition + sort on the interleaved Z-value, then drop
        # it before writing: a projection after the sort keeps the
        # layout, so files get tight multi-column bounding boxes with
        # no helper column on disk
        z = _zorder_expr(df, zorder_by)
        arranged = (
            df.withColumn("_z", z)
            .repartitionByRange(n_files, F.col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z")
        )
        arranged.write.parquet(target)
    else:
        arranged = (
            df.repartitionByRange(n_files, *cluster_by)
            .sortWithinPartitions(*cluster_by)
            if cluster_by
            else df.repartition(n_files)
        )
        arranged.write.parquet(target)
    files = sorted(
        os.path.relpath(os.path.join(dirpath, f), target)
        for dirpath, _dirs, names in os.walk(target)
        for f in names
        if f.endswith(".parquet") and not f.startswith(".")
    )
    spark = df.sparkSession
    stat_cols = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in _NUMERIC_TYPES + ("string",)
        and f.name != (spec[0] if spec else None)  # exact value recorded
    ]
    abs_target = os.path.abspath(target)
    # per-file stats from the parquet FOOTERS the write just produced —
    # O(footers) driver-side metadata reads, ZERO data re-read (r12
    # optimization, guide §1.2/§6: the previous implementation re-read
    # every committed byte in a second Spark job to recompute what the
    # writer already recorded; a real table format trusts its footers).
    # Columns whose footer bounds cannot be PROVEN exact (see
    # _footer_file_stats) fall back to one column-pruned grouped-agg
    # Spark job — exactness of manifest stats is hash-load-bearing
    # (pruning audits count files_scanned), so the fast path is taken
    # only where footer == engine semantics is guaranteed.
    by_file, unsafe_cols = _footer_file_stats(
        abs_target, files, df.schema, stat_cols
    )
    if unsafe_cols:
        # Keyed by path RELATIVE to the commit dir, not basename: a
        # partitioned write reuses one task's part-file name across its
        # col=value subdirectories, so basenames collide.
        aggs = [F.count(F.lit(1)).alias("_n")]
        for c in unsafe_cols:
            aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]

        def _rel(file_uri: str) -> str:
            p = file_uri.replace("file:", "")
            return os.path.relpath(p, abs_target)

        for r in (
            spark.read.parquet(target)
            .groupBy(F.input_file_name().alias("_f"))
            .agg(*aggs)
            .collect()
        ):
            row = r.asDict()
            got = by_file.setdefault(_rel(row.pop("_f")), {"_n": row["_n"]})
            got.update(row)

    def _partition_of(rel_name: str) -> dict | None:
        if not spec:
            return None
        from urllib.parse import unquote

        for comp in rel_name.split(os.sep)[:-1]:
            if "=" in comp:
                col, _, raw = comp.partition("=")
                if col == spec[0]:
                    return {col: unquote(raw)}
        raise ValueError(
            f"partitioned write produced un-layouted file {rel_name!r}"
        )

    entries = []
    for name in files:
        got = by_file.get(name)
        entry = {"path": os.path.join(sub, name), "rows": 0, "stats": {},
                 "bytes": os.path.getsize(os.path.join(abs_target, name))}
        if got is not None and got.get("_n"):
            row = dict(got)
            entry["rows"] = row.pop("_n")
            entry["stats"] = {k: _stat_value(v) for k, v in row.items()}
        part = _partition_of(name)
        if part is not None:
            entry["partition"] = part
            if spec[2] != "identity":
                entry["partition_spec"] = {
                    "name": spec[0], "source": spec[1],
                    "transform": spec[2], "param": spec[3],
                }
        entries.append(entry)
    if bloom_for:
        _attach_blooms(spark, table_path, target, abs_target, sub,
                       entries, bloom_for)
    if ndv_for:
        _attach_ndv(spark, table_path, target, abs_target, sub,
                    entries, ndv_for)
    return entries


def append(df, table_path: str, n_files: int = 2,
           partition_by: str | tuple | None = None,
           bloom_for: dict[str, int] | None = None,
           ndv_for: list[str] | None = None) -> int:
    """Commit *df* as new files ON TOP of the latest snapshot (the
    carried file list is resolved inside the commit's retry loop, so
    concurrent appends compose instead of lost-updating).  An append
    whose *df* carries columns the table has never seen is the
    ADD-COLUMN evolution commit: the published schema is the carried
    schema plus the new columns, and readers of the new version see
    null for them in every pre-evolution file.  ``partition_by``
    writes this commit's files under an identity partition spec (see
    ``_write_data_files``); commits with different specs coexist in
    one table — pruning applies wherever partition values are
    recorded.  ``partition_by=CURRENT_SPEC`` resolves the table's
    ACTIVE spec (``set_partition_spec``) at write time — the writer
    that keeps honoring the declared layout across spec evolutions."""
    latest = _latest(table_path)
    validated = _validated(df, table_path, latest)
    entries = _write_data_files(
        df, table_path, n_files,
        partition_by=_resolve_partition_by(latest, partition_by),
        bloom_for=bloom_for, ndv_for=ndv_for)
    return _publish_manifest(
        table_path, "append", entries, carry=True,
        schema=df.schema.jsonValue(),
        check=_revalidating(df, table_path, validated), latest=latest,
    )


def overwrite(df, table_path: str, n_files: int = 2,
              partition_by: str | tuple | None = None,
              bloom_for: dict[str, int] | None = None,
              ndv_for: list[str] | None = None) -> int:
    """Commit *df* as the ENTIRE table content; prior files stay on
    disk (older snapshots remain readable) but are no longer listed.
    The schema is replaced outright (overwrite is the explicit path
    for type changes that ``append`` refuses).  ``partition_by``
    writes under an identity partition spec; ``CURRENT_SPEC`` resolves
    the table's active spec like ``append``."""
    latest = _latest(table_path)
    validated = _validated(df, table_path, latest)
    entries = _write_data_files(
        df, table_path, n_files,
        partition_by=_resolve_partition_by(latest, partition_by),
        bloom_for=bloom_for, ndv_for=ndv_for)
    return _publish_manifest(
        table_path, "overwrite", entries, schema=df.schema.jsonValue(),
        check=_revalidating(df, table_path, validated), latest=latest,
    )


def overwrite_partitions(df, table_path: str, n_files: int = 1) -> int:
    """DYNAMIC partition overwrite — Spark's
    ``partitionOverwriteMode=dynamic`` / Iceberg's
    ``overwritePartitions`` as a ledger commit: exactly the partitions
    PRESENT in *df* are replaced (their old files stop being listed),
    every other partition's files are carried by reference,
    byte-untouched.  The idiom behind daily re-ingestion: recompute
    one day of a date-partitioned 100 TB table and commit it without
    touching — or even listing — the other days' data.

    The replaced set is computed engine-side by mapping *df* through
    the table's ACTIVE partition transform (identity, bucket,
    truncate, month — one distinct over the derived value, bounded by
    the partition count, never the rows) and matched against each
    file's manifest-recorded partition VALUE — the same
    metadata-not-directories contract as partition pruning.

    Refusals (loud, table unchanged): no active partition spec; a
    file written under a DIFFERENT spec generation or with no
    recorded partition value (its membership is unknowable without
    reading it — re-cluster via compact first); pending delete files
    (replacement under deletes is ambiguous — purge first).

    CDC: the feeds classify the commit as a per-partition
    delete+insert diff (the key-less multiset path — identical
    restatements cancel).  Serializable: publishes at exactly
    base+1."""
    from pyspark.sql import functions as F

    base = _base(table_path, "overwrite_partitions")
    manifest = base[1]
    if manifest.get("delete_files"):
        raise ValueError(
            "overwrite_partitions: pending delete files — compact()/"
            "purge_deletes() first (partition replacement under "
            "deletes is ambiguous)"
        )
    active_pb = _active_spec(manifest)
    spec = _partition_spec(active_pb)
    if spec is None:
        raise ValueError(
            "overwrite_partitions: table has no active partition spec "
            "— set_partition_spec first (dynamic overwrite is defined "
            "by the declared layout)"
        )
    p_name, p_source, p_transform, _param = spec
    dtype_name = dict(
        (f.name, f.dataType.typeName()) for f in df.schema.fields
    ).get(p_source)
    if dtype_name is None:
        raise ValueError(
            f"overwrite_partitions: source lacks the partition source "
            f"column {p_source!r}"
        )
    for e in manifest["files"]:
        esp = e.get("partition_spec")
        if not e.get("partition") or p_name not in e["partition"] or (
                esp and esp.get("name") != p_name):
            raise ValueError(
                f"overwrite_partitions: file {e['path']!r} carries no "
                f"partition value under the active spec {p_name!r} — "
                "its membership is unknowable without reading it; "
                "compact() under the current spec first"
            )
    pv = (F.col(p_name) if p_transform == "identity"
          else _transform_expr(spec, dtype_name))
    replaced = {
        str(r["_pv"])
        for r in df.select(pv.alias("_pv")).distinct().collect()
    }  # one distinct over the DERIVED value — bounded by partitions
    if not replaced:
        raise ValueError("overwrite_partitions: source has no rows")
    _validate_constraints(df, table_path, manifest.get("constraints") or {})
    return _commit(table_path, {
        "op": "overwrite-partitions",
        "tags": {"replaced_partitions": sorted(replaced)},
        "add": _write_data_files(df, table_path, n_files,
                                 partition_by=active_pb),
        "drop": {e["path"] for e in manifest["files"]
                 if e["partition"][p_name] in replaced},
        "schema": manifest.get("schema") or df.schema.jsonValue(),
    }, who="overwrite_partitions", base=base)


def compact(spark, table_path: str, n_files: int = 1,
            cluster_by: list[str] | None = None,
            bloom_for: dict[str, int] | None = None,
            zorder_by: list[str] | None = None,
            ndv_for: list[str] | None = None) -> int:
    """Rewrite the latest snapshot's content as *n_files* files —
    logically a no-op (same rows), physically the small-file fix; a
    reader of any prior version is untouched (its files are
    immutable).  ``cluster_by`` additionally range-clusters the
    rewrite on the given columns (OPTIMIZE ... CLUSTER BY): files then
    cover disjoint key ranges, turning the manifest min/max stats into
    an effective pruning index for reads and stats-pruned MERGEs —
    interleaved ingestion order makes every file span the whole key
    range, and stats prune nothing until a clustering rewrite.
    Serializable: the rewrite is of the snapshot it read, so a commit
    landing meanwhile fails it loudly (re-resolving would drop that
    commit's rows from the new content)."""
    base = _latest(table_path)
    content = read(spark, table_path, base[0])
    return _commit(table_path, {
        "op": "compact",
        "add": _write_data_files(content, table_path, n_files,
                                 cluster_by=cluster_by,
                                 bloom_for=bloom_for,
                                 zorder_by=zorder_by,
                                 ndv_for=ndv_for),
        "replace": True,
        "schema": content.schema.jsonValue(),
        # every rewritten file now stores the CURRENT (widened) types:
        # the widen era history is inert and is retired here, which is
        # what re-enables rename/drop on previously-widened columns
        "meta": {"widens": []},
    }, who="compact", base=base)


def version_as_of(table_path: str, ts: float) -> int:
    """Resolve a wall-clock timestamp to the snapshot version that was
    CURRENT at that instant: the newest version whose ``committed_at``
    is <= *ts* (Delta's ``timestampAsOf`` / Iceberg's as-of-timestamp
    contract).  Pure metadata — one manifest read per version, no data
    I/O.  Fails loudly when *ts* predates the first commit, and when a
    candidate manifest predates ``committed_at`` recording (pre-upgrade
    chains can't answer timestamp travel honestly — version travel
    still works on them)."""
    best = None
    for v in versions(table_path):
        at = read_manifest(table_path, v).get("committed_at")
        if at is None:
            raise ValueError(
                f"version_as_of: v{v} at {table_path} has no "
                "committed_at (committed before timestamps were "
                "recorded) — use version travel for this chain"
            )
        if at <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"version_as_of: {ts} predates the first commit at "
            f"{table_path}"
        )
    return best


def adopt_parquet(spark, table_path: str, source, n_files_hint=None) -> int:
    """ADOPT existing parquet files into the ledger IN PLACE — the
    Iceberg ``add_files``/migrate contract, and the only honest way to
    onboard a 100 TB data lake: ZERO data bytes read or moved.  The
    commit lists the external files by ABSOLUTE path with per-file row
    counts and integer/float min/max stats taken from the parquet
    FOOTERS (pyarrow metadata — O(footers), not O(data)); string
    columns get no stats (parquet may truncate string bounds, and a
    truncated upper bound over-prunes — entries without stats are
    conservatively kept by every pruning path, so skipping them is
    safe, never wrong).

    Adopted entries are marked ``external``: vacuum/orphan sweeps
    NEVER reclaim them (the ledger references but does not own them),
    and any rewrite (merge/delete/compact/optimize) that touches one
    re-lands the surviving rows INSIDE the table and simply stops
    listing the external file — gradual internalization with no big-
    bang copy.  Positional operations (``delete_where`` /
    ``update_where``) refuse while external files are present (their
    coordinates are table-relative): ``compact()`` first.

    *source* is a directory (every ``*.parquet`` under it, recursive)
    or an explicit list of file paths.  Publishes one ``adopt`` commit
    (append semantics: carried files + the adopted list).  Returns the
    committed version."""
    import pyarrow.parquet as pq

    if isinstance(source, str):
        files = sorted(
            os.path.join(dp, f)
            for dp, _dirs, names in os.walk(source)
            for f in names
            if f.endswith(".parquet") and not f.startswith(".")
        )
    else:
        files = sorted(os.path.abspath(p) for p in source)
    if not files:
        raise ValueError(f"adopt_parquet: no parquet files in {source!r}")
    # Spark's inference over these files reads the first one's footer
    schema_json = footer_schema(spark, files[0]).jsonValue()
    want_stats = {
        f["name"] for f in schema_json["fields"]
        if isinstance(f["type"], str) and f["type"] in _NUMERIC_TYPES
    }
    entries = []
    for path in files:
        meta = pq.ParquetFile(path).metadata
        names = [meta.schema.column(i).name
                 for i in range(meta.num_columns)]
        stats: dict = {}
        for i, name in enumerate(names):
            if name not in want_stats:
                continue
            lo = hi = None
            ok = True
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(i).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if ok and lo is not None:
                stats[f"min_{name}"] = _stat_value(lo)
                stats[f"max_{name}"] = _stat_value(hi)
        entries.append({
            "path": os.path.abspath(path),
            "rows": meta.num_rows,
            "bytes": os.path.getsize(path),
            "stats": stats,
            "external": True,
        })
    return _publish_manifest(
        table_path, "adopt", entries, carry=True, schema=schema_json
    )


def clone_table(spark, source_path: str, dest_path: str,
                version: int | None = None, ref: str | None = None,
                relative: bool = False) -> int:
    """SHALLOW CLONE — the Delta ``CLONE`` contract: *dest_path*
    becomes an independent ledger whose first commit REFERENCES the
    source snapshot's data (and pending equality-delete) files
    zero-copy, as one metadata commit with zero data bytes read or
    moved.  Writes to either table never affect the other (immutable
    files + separate manifest chains); the clone starts with the
    source's schema, constraints, partition spec, and full
    rename/default/drop/widen history.

    The clone's first manifest publishes AT THE SOURCE'S VERSION
    NUMBER, not v1 — sequence numbers equal commit versions
    throughout this module, so continuing the numbering preserves
    every seq-relative contract verbatim: pending equality deletes
    keep applying only to older files, the era mapping keeps reading
    each file under its stored names/types, and the clone's own next
    commit (source_version + 1) outranks everything it inherited.
    Time travel below the clone point fails loudly on the missing
    manifest — exactly the post-vacuum contract; consume CDC from the
    clone version forward.

    Cloned entries are marked ``external`` (referenced, not owned):
    the clone's vacuum/orphan sweeps never reclaim source files, and
    rewrites internalize survivors gradually — the adopt_parquet
    machinery, pointed at a ledger instead of a raw directory.  As
    with Delta, a VACUUM ON THE SOURCE can reclaim files a shallow
    clone still references — tag the source version (``tag()``, a
    retention pin) for as long as the clone must stay shallow, or
    ``compact()`` the clone to internalize.

    Pending POSITIONAL deletes refuse (their (file, ordinal)
    coordinates are table-relative and cannot follow the files to an
    external root): ``purge_deletes()`` or ``compact()`` the source
    first.  Returns the clone's first committed version.

    ``relative=True`` records the references as DEST-RELATIVE paths
    (``../src/data/...``) instead of absolute ones — for co-located
    tables under one warehouse root that move (or mount) together,
    the clone pair stays valid wherever the root lands; absolute
    (the default) is right when source and dest live on independent
    roots."""
    if ref is not None:
        version = resolve_ref(source_path, ref)
    v, m = _base(source_path, "clone_table", version)
    if versions(dest_path):
        raise ValueError(
            f"clone_table: {dest_path} already has versions — clone "
            "targets a fresh path"
        )
    if any(d.get("kind") == "positional"
           for d in m.get("delete_files") or []):
        raise ValueError(
            "clone_table: source has pending POSITIONAL deletes — "
            "their (file, ordinal) coordinates are table-relative; "
            "purge_deletes() or compact() the source first"
        )
    abs_src = os.path.abspath(source_path)
    abs_dst = os.path.abspath(dest_path)

    def _repath(p: str) -> str:
        full = p if os.path.isabs(p) else os.path.join(abs_src, p)
        return os.path.relpath(full, abs_dst) if relative else full

    def _ext(e: dict) -> dict:
        out = dict(e)
        out["path"] = _repath(e["path"])
        out["external"] = True
        if e.get("bloom"):
            out["bloom"] = {
                c: {**bm, "path": _repath(bm["path"])}
                for c, bm in e["bloom"].items()
            }
        return out

    skip = {"files", "delete_files", "version", "committed_at",
            "operation", "batch_id", "txn", "key", "mode", "segments",
            "rollback_of", "cloned_from"}
    manifest = {k: val for k, val in m.items() if k not in skip}
    manifest.update(
        operation="clone",
        version=v,
        committed_at=time.time(),
        files=[_ext(e) for e in m["files"]],
        cloned_from={
            "table": abs_src,
            # dest-relative source root too, so clone_sync can find a
            # RELATIVE clone pair after the warehouse root moved
            "table_rel": os.path.relpath(abs_src, abs_dst),
            "version": v,
            "mode": "relative" if relative else "absolute",
        },
    )
    if m.get("delete_files"):
        manifest["delete_files"] = [_ext(d) for d in m["delete_files"]]
    os.makedirs(_manifest_dir(dest_path), exist_ok=True)
    if not _try_link(dest_path, v, manifest):
        raise ValueError(
            f"clone_table: {dest_path} gained a version concurrently — "
            "clone targets a fresh path"
        )
    return v


def clone_sync(spark, dest_path: str) -> list[int]:
    """FAST-FORWARD an UN-DIVERGED shallow clone (the Delta
    incremental-clone contract): re-reference every source commit
    newer than the clone's tip, as metadata-only commits at the SAME
    version numbers — an O(new manifests) catch-up, zero data bytes
    moved.  Each synced manifest keeps the source commit's operation
    / key / mode, so CDC on the clone classifies the synced window
    EXACTLY as CDC on the source does (test-pinned) — a replica you
    can subscribe to.

    Divergence check: every dest version must carry a ``cloned_from``
    record (the clone commit plus previous syncs).  A dest with its
    own commits is a FORK, not a replica — sync refuses; compact()
    it to independence instead.  Source commits with pending
    POSITIONAL deletes refuse as in ``clone_table``.  Returns the
    list of synced versions (empty when already current)."""
    dvs = versions(dest_path)
    if not dvs:
        raise ValueError(f"clone_sync: {dest_path} has no versions")
    tip_m = read_manifest(dest_path, dvs[-1])
    info = tip_m.get("cloned_from")
    if info is None or any(
            read_manifest(dest_path, v).get("cloned_from") is None
            for v in dvs):
        raise ValueError(
            f"clone_sync: {dest_path} has diverged from its source "
            "(commits of its own) — it is a fork now; compact() it to "
            "independence instead of syncing"
        )
    abs_dst = os.path.abspath(dest_path)
    src = info["table"]
    if not os.path.isdir(src) and info.get("table_rel"):
        src = os.path.join(abs_dst, info["table_rel"])
    if not versions(src):
        raise ValueError(
            f"clone_sync: source {info['table']!r} is unreachable "
            "from the clone"
        )
    relative = info.get("mode") == "relative"
    abs_src = os.path.abspath(src)

    def _repath(p: str) -> str:
        full = p if os.path.isabs(p) else os.path.join(abs_src, p)
        return os.path.relpath(full, abs_dst) if relative else full

    def _ext(e: dict) -> dict:
        out = dict(e)
        out["path"] = _repath(e["path"])
        out["external"] = True
        if e.get("bloom"):
            out["bloom"] = {
                c: {**bm, "path": _repath(bm["path"])}
                for c, bm in e["bloom"].items()
            }
        return out

    synced: list[int] = []
    for v in versions(src):
        if v <= dvs[-1]:
            continue
        m = read_manifest(src, v)
        if any(d.get("kind") == "positional"
               for d in m.get("delete_files") or []):
            raise ValueError(
                f"clone_sync: source commit v{v} carries positional "
                "deletes — purge_deletes() the source first"
            )
        manifest = {k: val for k, val in m.items()
                    if k not in ("files", "delete_files", "segments",
                                 "cloned_from")}
        manifest["files"] = [_ext(e) for e in m["files"]]
        if m.get("delete_files"):
            manifest["delete_files"] = [_ext(d)
                                        for d in m["delete_files"]]
        manifest["cloned_from"] = {**info, "version": v}
        if not _try_link(dest_path, v, manifest):
            raise ValueError(
                f"clone_sync: {dest_path} gained v{v} concurrently — "
                "one syncer at a time"
            )
        synced.append(v)
    return synced


def read(spark, table_path: str, version: int | None = None, *,
         as_of: float | None = None,
         ref: str | None = None,
         prune: tuple[str, float, float] | list[tuple] | None = None,
         partitions: dict[str, list] | None = None,
         key_in: tuple[str, list] | None = None,
         report: dict | None = None,
         with_coords: bool = False):
    """Scan snapshot *version* (default latest): exactly the manifest's
    files, nothing else.  ``as_of=<unix ts>`` resolves the version by
    commit wall-time (timestamp travel), ``ref="name"`` by tag — the
    three pins are mutually exclusive.  ``prune=(col, lo, hi)`` drops files whose [min, max]
    range cannot intersect [lo, hi] BEFORE Spark plans the scan —
    manifest-level file pruning.  ``partitions={col: [v, ...]}`` keeps
    only files whose recorded partition VALUE matches (exact identity
    pruning for ``partition_by`` commits; files without partition
    metadata are kept conservatively).  ``key_in=(col, [v, ...])`` is
    POINT-LOOKUP pruning: a file is kept only if its [min, max] range
    admits at least one probe value AND, when the commit recorded a
    Bloom sidecar for *col* (``bloom_for`` at write time), the bitmap
    reports a possible hit for at least one value — the path that
    skips files range stats can't (hash-scattered keys make every file
    span the full range).  Entries without a bloom are kept whenever
    their range admits a value; a point lookup that prunes EVERY file
    returns an empty frame under the manifest schema (a miss is an
    answer, not an error).  Either way the caller still applies the
    row-level filter; pruning only shrinks the file list.

    ``report``, when a dict, is filled with ``files_total`` /
    ``files_scanned`` after pruning — the observability hook that lets
    callers (and tests) pin that pruning actually HAPPENED, not just
    that the answer was right.

    ``with_coords=True`` appends ``_file_rel`` / ``_pos`` columns —
    each row's physical (file, ordinal) coordinate, the same address
    positional deletes use (engine-side ``_metadata.row_index``, zero
    extra I/O): row-grain provenance for debugging, dedup lineage, or
    building external indexes keyed to physical rows."""
    if sum(x is not None for x in (version, as_of, ref)) > 1:
        raise ValueError("read: pass at most one of version / as_of / ref")
    if ref is not None:
        version = resolve_ref(table_path, ref)
    if as_of is not None:
        version = version_as_of(table_path, as_of)
    vs = versions(table_path)
    if not vs:
        raise ValueError(f"snapshot table {table_path} has no versions")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(f"version {v} not in {vs} at {table_path}")
    # Plain pinned-scan plans go through the session memo: a
    # published manifest and its file set are immutable, so the ~50 ms
    # of manifest JSON + py4j scan construction per re-read is a
    # session constant.  The key carries the manifest's path stamp, so
    # a table deleted and recreated at the same path (re-minted version
    # numbers) never serves the old plan.  Pruned, projected and
    # coordinate reads bypass it.
    if (prune is None and partitions is None and key_in is None
            and report is None and not with_coords):
        mpath = os.path.join(_manifest_dir(table_path), f"v{v}.json")
        return session_memo(
            spark, ("ledger", os.path.abspath(table_path), v,
                    path_stamp(mpath)),
            lambda: _scan_manifest(spark, table_path,
                                   read_manifest(table_path, v)),
        )
    manifest = read_manifest(table_path, v)
    entries = manifest["files"]
    if report is not None:
        report["files_total"] = len(entries)
    if prune is not None:
        # one (col, lo, hi) or a list of them (ANDed) — the multi-range
        # form is what a Z-ordered layout serves: every range must
        # intersect the file's per-column bounding box
        ranges = [prune] if isinstance(prune[0], str) else list(prune)
        entries = [e for e in entries
                   if all(_entry_overlaps(e, {col: (lo, hi)})
                          for col, lo, hi in ranges)]
    if partitions:
        wanted = {col: {str(x) for x in vals}
                  for col, vals in partitions.items()}
        entries = [
            e for e in entries
            if all(
                col not in (e.get("partition") or {})
                or e["partition"][col] in vals
                for col, vals in wanted.items()
            )
        ]
    if key_in is not None:
        col, values = key_in
        if not values:
            raise ValueError("read: key_in needs at least one value")
        dtype = None
        if manifest.get("schema"):
            from pyspark.sql.types import StructType

            st = StructType.fromJson(manifest["schema"])
            if col in st.fieldNames():
                dtype = st[col].dataType
        probes_by_m: dict[int, list[list[int]]] = {}
        bufs: dict[str, bytes] = {}
        pv_by_spec: dict[tuple, set[str]] = {}
        kept = []
        for e in entries:
            # hidden partitioning: a recorded partition TRANSFORM on
            # this column maps the raw probe values through the
            # transform and prunes on the directory value — the reader
            # never needs to know the layout (the Iceberg contract)
            sp = e.get("partition_spec")
            if sp and sp["source"] == col and e.get("partition"):
                key = (sp["transform"], sp["param"])
                if key not in pv_by_spec:
                    pv_by_spec[key] = set(_transform_probe_values(
                        spark,
                        (sp["name"], col, sp["transform"], sp["param"]),
                        dtype, list(values),
                    )) if dtype is not None else None
                wanted_pv = pv_by_spec[key]
                if (wanted_pv is not None
                        and e["partition"].get(sp["name"]) is not None
                        and e["partition"][sp["name"]] not in wanted_pv):
                    continue
            elif (e.get("partition") and col in e["partition"]):
                # identity-partitioned entries prune on the exact value
                if e["partition"][col] not in {str(v) for v in values}:
                    continue
            mn, mx = e["stats"].get(f"min_{col}"), e["stats"].get(f"max_{col}")
            in_range = [
                v for v in values
                if mn is None or mx is None or mn <= v <= mx
            ]
            if not in_range:
                continue
            meta = (e.get("bloom") or {}).get(col)
            if meta is None or dtype is None:
                kept.append(e)  # no bloom (or pre-schema chain): keep
                continue
            m = meta["m"]
            if m not in probes_by_m:
                probes_by_m[m] = _bloom_probe_positions(
                    spark, dtype, list(values), m
                )
            if meta["path"] not in bufs:
                with open(os.path.join(table_path, meta["path"]), "rb") as f:
                    bufs[meta["path"]] = f.read()
            buf = bufs[meta["path"]]
            if any(_bloom_may_contain(buf, ps) for ps in probes_by_m[m]):
                kept.append(e)
        entries = kept
        if not entries and manifest.get("schema"):
            from pyspark.sql.types import StructType

            if report is not None:
                report["files_scanned"] = 0
            return spark.createDataFrame(
                [], StructType.fromJson(manifest["schema"])
            )
    if report is not None:
        report["files_scanned"] = len(entries)
    return _scan_manifest(spark, table_path, manifest, entries,
                          with_coords)


def _scan_manifest(spark, table_path: str, manifest: dict,
                   entries: list[dict] | None = None,
                   with_pos: bool = False):
    """The visible rows of *entries* (default: all of *manifest*'s
    files) — the ledger's one scan entry.  Everything comes from the
    manifest it is given: the schema, the rename / default / widen
    histories, and the pending delete files (``_scan_with_deletes``
    when there are any, else a plain ``_scan``).  A would-be snapshot
    (``read_branch``) is scanned the same way, so its new entries
    must carry the sequence numbers publish will stamp.
    ``with_pos=True`` keeps each row's ``_file_rel`` / ``_pos``
    coordinate."""
    if entries is None:
        entries = manifest["files"]
    if not entries:
        raise ValueError(
            f"snapshot v{manifest.get('version')} at {table_path} has no "
            "files after pruning"
        )
    if manifest.get("delete_files"):
        return _scan_with_deletes(spark, table_path, entries, manifest,
                                  with_pos)
    return _scan(spark, table_path, entries, manifest, with_pos)


def read_join_pruned(spark, table_path: str, dim_df, key: str, *,
                     dim_key: str | None = None, max_probes: int = 256,
                     version: int | None = None,
                     report: dict | None = None):
    """RUNTIME file pruning from a join's dimension side — the
    dynamic-partition-pruning analog for ledger tables: before the
    fact scan is planned, ONE tiny aggregate over the (already
    filtered) *dim_df* decides which fact files can possibly hold a
    matching *key*, and only those are scanned.

    Strategy, picked from the dim side's observed cardinality:

    - ``<= max_probes`` distinct keys → POINT-LOOKUP pruning: the
      exact key set probes each file's [min, max] range, Bloom
      sidecar, and hidden-partition transform (``read(key_in=...)``)
      — the path that prunes what range stats can't;
    - more → RANGE pruning on the dim side's [min, max]
      (``read(prune=...)``) — still exact for range-localized
      dimension filters, and never collects an unbounded key list to
      the driver.

    The caller joins the returned frame to *dim_df* as usual; pruning
    only shrank the file list, so the join result is byte-identical
    to scanning everything (wrongly skipping a file would LOSE rows —
    soundness is result-load-bearing).  At 100 TB this is the
    difference between a dim-filtered fact join reading a few files
    and reading the table: the probe costs one dim-side agg (the dim
    is small by premise — that's why it's the broadcast side).

    ``report`` receives ``files_total`` / ``files_scanned`` /
    ``strategy`` / ``n_probes`` for audit pinning."""
    from pyspark.sql import functions as F

    dk = dim_key or key
    probe = dim_df.agg(
        F.countDistinct(dk).alias("n"),
        F.min(dk).alias("lo"),
        F.max(dk).alias("hi"),
    ).collect()[0]  # single-row probe over the SMALL dim side — bounded
    if report is not None:
        report["n_probes"] = int(probe["n"])
    if probe["n"] == 0:
        df = read(spark, table_path, version, report=report).limit(0)
        if report is not None:
            report["files_scanned"] = 0
            report["strategy"] = "empty-dim"
        return df
    if probe["n"] <= max_probes:
        values = [
            r[dk] for r in dim_df.select(dk).distinct().collect()
        ]  # bounded by max_probes by construction
        if report is not None:
            report["strategy"] = "point-lookup"
        return read(spark, table_path, version,
                    key_in=(key, values), report=report)
    if report is not None:
        report["strategy"] = "range"
    return read(spark, table_path, version,
                prune=(key, probe["lo"], probe["hi"]), report=report)


def _scan_with_deletes(spark, table_path: str, data_entries: list[dict],
                       manifest: dict, with_pos: bool = False):
    """Merge-on-read: scan the data files and ANTI-JOIN *manifest*'s
    pending delete files.  Two delete forms, the Iceberg v2 pair:

    - EQUALITY deletes apply ONLY to data files whose sequence number
      is LOWER than their own (re-inserts survive), anti-joined on the
      recorded key column;
    - POSITIONAL deletes (``kind: "positional"``, from
      ``delete_where``) address exact ``(file, row ordinal)``
      coordinates — they apply to precisely their ``targets`` files
      (immutability makes the seq check redundant: a re-insert lands
      in a NEW file a position can never address), anti-joined on
      ``(_file_rel, _pos)`` attached engine-side from
      ``_metadata.row_index``.

    Data entries are grouped by their applicable-delete set (few
    distinct sets in practice), each group anti-joined once; files
    targeted by no positional delete never pay for the position
    columns.  ``with_pos=True`` keeps ``_file_rel``/``_pos`` on the
    output rows (``delete_where`` computing its match set)."""
    from pyspark.sql import functions as F

    delete_files = manifest["delete_files"]
    eq_dels = [d for d in delete_files
               if d.get("kind", "equality") != "positional"]
    pos_dels = [d for d in delete_files if d.get("kind") == "positional"]
    pos_applying = delete_index(pos_dels)
    groups: dict[tuple, list[dict]] = {}
    for e in data_entries:
        eq_app = tuple(
            sorted(
                (d["path"], tuple(_key_cols(d["key"]))) for d in eq_dels
                if d.get("seq", 0) > e.get("seq", 0)
            )
        )
        pos_app = tuple(sorted(d["path"] for d in pos_applying(e)))
        groups.setdefault((eq_app, pos_app), []).append(e)
    frames = []
    for applicable in sorted(groups):
        eq_app, pos_app = applicable
        need_pos = with_pos or bool(pos_app)
        df = _scan(spark, table_path, groups[applicable], manifest,
                   need_pos)
        if pos_app:
            dels = spark.read.parquet(
                *[os.path.join(table_path, p) for p in pos_app]
            ).select(
                F.col("file_rel").alias("_file_rel"),
                F.col("pos").alias("_pos"),
            )
            df = df.join(dels, ["_file_rel", "_pos"], "left_anti")
        if bool(pos_app) and not with_pos:
            df = df.drop("_file_rel", "_pos")
        by_key: dict[tuple, list[str]] = {}
        for path, kcols in eq_app:
            by_key.setdefault(kcols, []).append(path)
        for kcols, paths in sorted(by_key.items()):
            keys = spark.read.parquet(
                *[os.path.join(table_path, p) for p in paths]
            ).select(*kcols).distinct()
            df = df.join(keys, list(kcols), "left_anti")
        frames.append(df)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _scan(spark, table_path: str, entries: list[dict], manifest: dict,
          with_pos: bool = False):
    """Scan exactly the files of *entries*, under *manifest*'s schema
    when the commit recorded one: a file written before an add-column
    commit lacks the column in its footer, and the reader fills it
    with null — which is what makes schema evolution a pure metadata
    commit (zero data files rewritten).  Manifests from before schemas
    were recorded fall back to footer-inferred reads (their chains
    never evolved).

    The manifest's ``renames`` history: for each file, every rename
    NEWER than the file's sequence number is undone to find the name
    the column is STORED under in that file's footer, and the read
    aliases it back to the current name — rename as pure metadata,
    per-era (``rename_column``).

    Entries carrying a ``partition`` (identity partition-spec writes)
    are grouped by partition value and the column is RESTORED from the
    manifest as a typed literal — hive-layout files don't store the
    partition column in their footers, and the manifest (not directory
    discovery) is the source of truth, exactly the Iceberg
    partition-data-in-metadata contract.

    ``with_pos=True`` additionally attaches ``_file_rel`` (the file's
    manifest-relative path) and ``_pos`` (the row's ordinal WITHIN its
    file, from the parquet reader's ``_metadata.row_index``) — the
    (file, position) coordinate that positional delete files address
    (``delete_where``).  Engine-side metadata columns, zero extra
    I/O.

    The manifest's ``widens`` history (``widen_column``): a file
    committed BEFORE a widen commit stores the column under its
    NARROWER physical type — the read uses the stored type for that
    file's era and casts up engine-side (exact by construction: only
    lossless promotions are ever recorded)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
        StructField,
        StructType,
    )

    _ATOMIC_TYPES = {
        "short": ShortType(),
        "integer": IntegerType(),
        "long": LongType(),
        "float": FloatType(),
        "double": DoubleType(),
    }
    schema_json = manifest.get("schema")
    full = StructType.fromJson(schema_json) if schema_json else None
    rename_hist = sorted(manifest.get("renames") or [], key=lambda r: r["v"])
    default_hist = manifest.get("defaults") or []
    widen_hist = sorted(manifest.get("widens") or [], key=lambda w: w["v"])

    def _stored_types(seq: int) -> tuple:
        # (col, narrower type name) for columns this file's era stores
        # under a pre-widen physical type: the EARLIEST widen commit
        # newer than the file names what the file actually stores
        out = []
        for f in (full.fields if full else ()):
            for w in widen_hist:
                if w["col"] == f.name and w["v"] > seq:
                    out.append((f.name, w["from"]))
                    break
        return tuple(out)

    def _fills(seq: int) -> tuple:
        # initial defaults (add_column(default=...)): a file committed
        # BEFORE the add stores no such column — it reads back as the
        # declared default, not null (the Iceberg initial-default /
        # Delta default-value contract); files from after the add keep
        # their genuine values including real nulls
        return tuple(
            (d["col"], d["value"]) for d in default_hist
            if d["v"] > seq
        )

    def _stored_names(seq: int) -> tuple:
        # current field name -> stored footer name for a file committed
        # at *seq*: undo renames newer than the file, newest first
        out = []
        for f in (full.fields if full else ()):
            n = f.name
            for r in reversed(rename_hist):
                if r["v"] > seq and r["new"] == n:
                    n = r["old"]
            out.append((f.name, n))
        return tuple(out)

    groups: dict[tuple, list[str]] = {}
    for e in entries:
        key = (
            tuple(sorted((e.get("partition") or {}).items())),
            _stored_names(e.get("seq", 0)) if rename_hist else (),
            _fills(e.get("seq", 0)) if default_hist else (),
            _stored_types(e.get("seq", 0)) if widen_hist else (),
        )
        groups.setdefault(key, []).append(e["path"])
    frames = []
    for key in sorted(groups):
        part_key, stored, fills, narrow = key
        narrow_of = dict(narrow)
        paths = [os.path.join(table_path, p) for p in groups[key]]
        part = dict(part_key)
        pos_cols = ["_fp", "_pos"] if with_pos else []
        if full is None:
            df = spark.read.parquet(*paths)
            if with_pos:
                df = df.select(
                    "*",
                    F.col("_metadata.file_path").alias("_fp"),
                    F.col("_metadata.row_index").alias("_pos"),
                )
            for c, v in part.items():
                if c not in df.columns:
                    df = df.withColumn(c, F.lit(v))
        else:
            stored_of = dict(stored) if stored else {
                f.name: f.name for f in full.fields
            }
            file_schema = StructType([
                StructField(
                    stored_of[f.name],
                    (_ATOMIC_TYPES[narrow_of[f.name]]
                     if f.name in narrow_of else f.dataType),
                    f.nullable,
                )
                for f in full.fields if f.name not in part
            ])
            df = spark.read.schema(file_schema).parquet(*paths)
            if with_pos:
                df = df.select(
                    "*",
                    F.col("_metadata.file_path").alias("_fp"),
                    F.col("_metadata.row_index").alias("_pos"),
                )
            df = df.select(*[
                F.col(stored_of[f.name]).alias(f.name)
                for f in full.fields if f.name not in part
            ], *pos_cols)
            for f in full.fields:
                if f.name in part:
                    df = df.withColumn(
                        f.name, F.lit(part[f.name]).cast(f.dataType)
                    )
            for col, value in fills:
                if col not in part:
                    df = df.withColumn(
                        col, F.lit(value).cast(full[col].dataType)
                    )
            for col in narrow_of:
                if col not in part:
                    # lossless up-cast from the file era's stored type
                    # to the widened manifest type (widen_column)
                    df = df.withColumn(
                        col, F.col(col).cast(full[col].dataType)
                    )
            df = df.select(*[f.name for f in full.fields], *pos_cols)
        frames.append(df)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    if with_pos:
        # normalize the reader's file URI (file:/... or file:///...)
        # to the manifest-relative path the delete files address
        prefix = os.path.abspath(table_path) + os.sep
        out = out.withColumn(
            "_file_rel",
            F.expr(
                "substring(regexp_replace(_fp, '^file:/+', '/'), "
                f"{len(prefix) + 1})"
            ),
        ).drop("_fp")
    return out


def read_changes(spark, table_path: str, from_version: int,
                 to_version: int):
    """Incremental consumption: scan ONLY the files ADDED between two
    snapshots (files are immutable, so the file-list diff IS the row
    diff for append-only chains — exact CDC without a log).  For
    chains containing overwrite/compact commits the added files may
    restate rows; callers consuming across such commits diff at the
    row level instead (orders_replica_diff is that operator).  Cost is
    proportional to the CHANGE, never the table — the property that
    makes incremental downstream jobs affordable at 100 TB."""
    if from_version >= to_version:
        raise ValueError(
            f"read_changes: need from < to, got {from_version} >= "
            f"{to_version}"
        )
    old = {e["path"] for e in read_manifest(table_path, from_version)["files"]}
    to_m = read_manifest(table_path, to_version)
    added = [e for e in to_m["files"] if e["path"] not in old]
    if not added:
        raise ValueError(
            f"read_changes: no files added between v{from_version} and "
            f"v{to_version}"
        )
    # the added files' rows as written: deletes committed after them
    # are not this feed's to apply (append-only contract)
    return _scan_manifest(spark, table_path, {**to_m, "delete_files": []},
                          added)


def read_row_changes(spark, table_path: str, from_version: int,
                     to_version: int):
    """ROW-level CDC across commit types — the Delta/Iceberg
    change-data-feed contract that makes incremental consumers
    composable over *any* ledger table, not just append-only chains
    (VERDICT r10 item 2): returns one row per net row change per
    commit in (*from_version*, *to_version*], tagged with

    - ``_change_type``: ``insert`` | ``update_preimage`` |
      ``update_postimage`` | ``delete``
    - ``_commit_version``: the commit that produced the change

    One algorithm for every commit type, the Spark edition of the
    stream's ``cdc_stream._commit_changes``.  Each commit's
    ``ledger_meta.commit_plan`` (manifests only) either skips it
    (compact, metadata-only), or names the affected files: the files
    it removed and added, plus carried files whose applicable delete
    set changed.  Their VISIBLE images — ``_scan_manifest`` under each
    side's manifest — are then classified:

    - a commit that records a merge/delete KEY (merge, delete, in
      either copy-on-write or merge-on-read mode) is joined on it:
      keys only in the after-image are inserts, keys in both with any
      differing non-key column (null-safe) emit update_preimage +
      update_postimage (rows merely CARRIED — matched by key,
      identical — emit nothing), keys only in the before-image are
      deletes.  A delete commit emits only the deletes;
    - a key-less commit (append, overwrite, overwrite-partitions,
      rollback, positional delete/update) is a multiset ``exceptAll``
      diff: before-only rows are deletes and after-only rows inserts,
      or update_preimage/update_postimage for a positional update.
      An append is all inserts (its plan lists only the added files).

    Assumes merge/delete-maintained tables keep *key* unique (the
    upsert contract those commits enforce).  Cost: scans only each
    commit's affected files, so consuming a merge that rewrote 3 files
    of a 100 TB table reads 6 files' worth of rows, not the table.
    A window spanning a column rename, or whose commits' manifests
    were vacuumed, fails loudly."""
    from pyspark.sql import functions as F

    if from_version >= to_version:
        raise ValueError(
            f"read_row_changes: need from < to, got {from_version} >= "
            f"{to_version}"
        )
    vs = versions(table_path)
    for v in (from_version, to_version):
        if v not in vs:
            raise ValueError(f"version {v} not in {vs} at {table_path}")

    def tagged(df, change_type: str, commit_v: int):
        return df.withColumn("_change_type", F.lit(change_type)) \
                 .withColumn("_commit_version", F.lit(commit_v).cast("long"))

    # every retained commit in the window is diffed against its
    # predecessor: a vacuumed gap fails here, naming the missing
    # before-image version
    plans = list(commit_plans(table_path, from_version, to_version,
                              "read_row_changes"))
    to_renames = plans[-1][1]["cur"].get("renames") or []
    spanned = [r for r in to_renames
               if from_version < r["v"] <= to_version]
    if spanned:
        raise ValueError(
            "read_row_changes: window spans a column rename at "
            f"v{spanned[0]['v']} ({spanned[0]['old']!r} -> "
            f"{spanned[0]['new']!r}) — change rows before and after "
            "carry different column names; split the window at the "
            "rename commit"
        )

    def image(entries: list[dict], m: dict):
        if not entries:
            return None
        return _scan_manifest(spark, table_path, m, entries)

    pieces = []
    for v, plan in plans:
        if plan["kind"] == "skip":
            continue
        before = image(plan["before"], plan["prev"])
        after = image(plan["after"], plan["cur"])
        if plan["key"] is None:
            t_del, t_ins = (
                ("update_preimage", "update_postimage")
                if plan["op"] == "update" else ("delete", "insert")
            )
            if before is not None and after is not None:
                before, after = (
                    before.exceptAll(after.select(*before.columns)),
                    after.exceptAll(before.select(*after.columns)),
                )
            if before is not None:
                pieces.append(tagged(before, t_del, v))
            if after is not None:
                pieces.append(tagged(after, t_ins, v))
            continue
        kcols = _key_cols(plan["key"])
        if before is None:  # no file could hold a matched key
            pieces.append(tagged(after, "insert", v))
            continue
        if after is not None and plan["op"] != "delete":
            pieces.append(tagged(
                after.join(before.select(*kcols), kcols, "left_anti"),
                "insert", v))
            common = [c for c in after.columns if c in set(before.columns)]
            non_key = [c for c in common if c not in kcols]
            b, a = before.alias("b"), after.alias("a")
            kcond = None
            for c in kcols:
                eqc = F.col(f"a.{c}") == F.col(f"b.{c}")
                kcond = eqc if kcond is None else (kcond & eqc)
            changed = a.join(b, kcond, "inner") \
                .filter(~F.struct(*[F.col(f"a.{c}") for c in non_key])
                        .eqNullSafe(
                    F.struct(*[F.col(f"b.{c}") for c in non_key])))
            pieces.append(tagged(
                changed.select(*[F.col(f"b.{c}").alias(c) for c in common]),
                "update_preimage", v))
            pieces.append(tagged(
                changed.select(*[F.col(f"a.{c}").alias(c) for c in common]),
                "update_postimage", v))
        # keys the after-image no longer holds: deletes (for a merge,
        # its matched-DELETE intents; empty for plain upserts)
        gone = (before.join(after.select(*kcols), kcols, "left_anti")
                if after is not None else before)
        pieces.append(tagged(gone, "delete", v))

    if not pieces:
        # zero changes (e.g. only compact commits in range): an EMPTY
        # frame under the to_version schema, so downstream epochs can
        # consume unconditionally
        base = read(spark, table_path, to_version).limit(0)
        return tagged(base, "insert", to_version).limit(0)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _discard_commit_dirs(table_path: str, entries: list[dict]) -> None:
    """Remove the commit-unique ``data/snap-*`` subdirectories holding
    *entries* — a discarded (never-published) commit's files, including
    Spark's sidecars (``_SUCCESS``, ``.crc``), which manifests never
    list.  Safe by construction: each commit writes into its OWN
    uuid-named subdirectory, so these trees hold no other commit's
    data."""
    import shutil

    for sub in {os.path.dirname(e["path"]) for e in entries}:
        full = os.path.join(table_path, sub)
        if os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)


def _hw_path(table_path: str) -> str:
    return os.path.join(_manifest_dir(table_path), "_last_batch_id")


def _txn_path(table_path: str, app: str) -> str:
    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", app)
    return os.path.join(_manifest_dir(table_path), f"_txn-{safe}")


def _read_marker(path: str) -> int | None:
    """The value of durable marker *path* (None before its first
    advance).  Markers persist OUTSIDE the vacuumable manifests — the
    durable half of the exactly-once checks, so a replay whose manifest
    vacuum already dropped is still detected (manifests alone cannot
    prove that): ``_last_batch_id`` holds the highest stream batch_id
    committed, ``_txn-<app>`` the highest txn version of an app (the
    Delta ``txnAppId``/``txnVersion`` contract)."""
    try:
        with open(path) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def _advance_marker(path: str, value: int) -> None:
    """Monotonic max-merge via staged-write + atomic replace.  Epochs
    and an app's txn versions commit in order, so concurrent writers of
    one marker are replays of the SAME value or a vacuum carrying
    forward an OLDER one — a racing os.replace can only ever land a
    value <= the true max transiently, and the very next commit
    restores it; the replay checks (append_stream_batch,
    _txn_committed) additionally scan retained manifests, so no replay
    window opens."""
    cur = _read_marker(path)
    if cur is not None and cur >= value:
        return
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    staged = os.path.join(d, f".marker-{uuid.uuid4().hex}")
    with open(staged, "w") as f:
        f.write(str(value))
    os.replace(staged, path)


def _txn_committed(table_path: str, app: str, version: int) -> bool:
    """True iff transaction (*app*, *version*) — or a later one of the
    same app — already committed: consult the durable per-app file,
    then the retained manifests (newest-first with early stop, same
    O(1)-per-check argument as append_stream_batch's epoch scan)."""
    hw = _read_marker(_txn_path(table_path, app))
    if hw is not None and version <= hw:
        return True
    for v in reversed(versions(table_path)):
        txn = read_manifest(table_path, v).get("txn")
        if txn and txn[0] == app:
            return txn[1] >= version
    return False


def vacuum(table_path: str, keep_versions: int = 1) -> list[str]:
    """Reclaim data files referenced by NO retained snapshot: keep the
    newest *keep_versions* manifests (and their files) plus every
    TAGGED version, delete the rest — the retention-windowed cleanup every snapshot format pairs
    with immutable files.  Returns the deleted file paths.  The
    retained manifests stay byte-identical, so time travel within the
    retention window is unaffected; older version reads fail loudly on
    the missing manifest rather than scanning half a snapshot.  Before
    a stream-append manifest is dropped, its batch_id is carried into
    the durable high-water file so the exactly-once replay check
    survives the manifest's deletion (tables written before the
    high-water file existed get it backfilled here)."""
    if keep_versions < 1:
        raise ValueError("vacuum: keep_versions must be >= 1")
    vs = versions(table_path)
    # TAGGED versions are retention pins: their manifests and files
    # survive any retention window until the tag is deleted (the
    # Iceberg ref-aware expiry contract)
    pinned = set(tags(table_path).values())
    keep = sorted(set(vs[-keep_versions:]) | (pinned & set(vs)))
    return _reclaim_versions(table_path, vs, keep)


def expire_snapshots(table_path: str, older_than: float,
                     keep_last: int = 1) -> list[str]:
    """AGE-based retention — the Iceberg ``expire_snapshots``
    contract, the production twin of the count-based ``vacuum``: drop
    every version whose ``committed_at`` predates *older_than* (a unix
    timestamp), always keeping the newest *keep_last* versions and
    every TAGGED version regardless of age.  Same reclamation
    machinery as vacuum (live-file reference counting, batch-id and
    app-txn high-water carry, bloom sidecars travel with their data
    files); returns the deleted file paths.  Versions without a
    recorded ``committed_at`` (pre-timestamp chains) are treated as
    infinitely old — age retention on them keeps only pins and the
    keep_last window."""
    if keep_last < 1:
        raise ValueError("expire_snapshots: keep_last must be >= 1")
    vs = versions(table_path)
    pinned = set(tags(table_path).values())
    young = {
        v for v in vs
        if (read_manifest(table_path, v).get("committed_at") or 0.0)
        >= older_than
    }
    keep = sorted(set(vs[-keep_last:]) | (pinned & set(vs)) | young)
    return _reclaim_versions(table_path, vs, keep)


def _reclaim_versions(table_path: str, vs: list[int],
                      keep: list[int]) -> list[str]:
    drop = [v for v in vs if v not in set(keep)]

    def _entry_paths(e: dict):
        # a data file travels with its bloom sidecars: live entries
        # keep them referenced, dropped entries reclaim them together.
        # ADOPTED (external) files are never reclaimed — the ledger
        # references them but does not own them (adopt_parquet).
        if e.get("external"):
            return
        yield e["path"]
        for meta in (e.get("bloom") or {}).values():
            yield meta["path"]

    live = {
        p
        for v in keep
        for m in [read_manifest(table_path, v)]
        for e in m["files"] + m.get("delete_files", [])
        for p in _entry_paths(e)
    }
    deleted = []
    for v in drop:
        m = read_manifest(table_path, v)
        if m.get("batch_id") is not None:
            _advance_marker(_hw_path(table_path), m["batch_id"])
        if m.get("txn"):
            # carry app-transaction idempotence past manifest retention,
            # exactly as batch_id is carried — a replayed retraction must
            # stay a no-op even after its manifest is vacuumed
            _advance_marker(_txn_path(table_path, m["txn"][0]),
                            m["txn"][1])
        for e in m["files"] + m.get("delete_files", []):
            for p in _entry_paths(e):
                if p not in live:
                    full = os.path.join(table_path, p)
                    if os.path.exists(full):
                        os.remove(full)
                    deleted.append(p)
        os.remove(os.path.join(_manifest_dir(table_path), f"v{v}.json"))
    # reclaim manifest SEGMENTS referenced by no retained version.
    # Shared segments stay live as long as ANY retained manifest lists
    # them (the whole point of reuse); a 300 s mtime grace protects a
    # segment an in-flight commit just wrote or touched (reuse bumps
    # mtime in _write_segment) but hasn't linked a manifest for yet.
    mdir = _manifest_dir(table_path)
    seg_live = {
        s for v in keep
        for s in (_raw_manifest(table_path, v).get("segments") or [])
    }
    grace = time.time() - 300.0
    for name in os.listdir(mdir):
        if not (name.startswith("seg-") and name.endswith(".json")):
            continue
        if name in seg_live:
            continue
        full = os.path.join(mdir, name)
        if os.path.getmtime(full) < grace:
            os.remove(full)
    return sorted(set(deleted))


def remove_orphans(table_path: str, older_than_seconds: float = 86400.0
                   ) -> list[str]:
    """Delete data files under ``data/`` referenced by NO manifest at
    all — debris from a crash between writing data files and publishing
    the manifest, or from a stream-append replay that lost its race
    (Iceberg's ``remove_orphan_files``).  *older_than_seconds* is the
    safety margin against an IN-FLIGHT commit whose manifest simply
    hasn't published yet: only files whose mtime is at least that old
    are removed.  The default is a conservative 24 h — a default-arg
    call racing an in-flight commit must never delete the files its
    about-to-publish manifest references (ADVICE r10); tests that stage
    deliberate orphans pass 0 explicitly."""

    data_root = os.path.join(table_path, "data")
    if not os.path.isdir(data_root):
        return []
    referenced = {
        e["path"]
        for v in versions(table_path)
        for m in [read_manifest(table_path, v)]
        for e in m["files"] + m.get("delete_files", [])
    }
    # a BRANCH's files are referenced only by its branch manifests
    # until publish — a pending branch must survive any orphan sweep
    for name in branches(table_path):
        for k in branch_versions(table_path, name):
            with open(_branch_commit_path(table_path, name, k)) as f:
                referenced.update(
                    e["path"] for e in json.load(f)["entries"]
                )
    cutoff = time.time() - older_than_seconds
    deleted = []
    for dirpath, _dirs, files in os.walk(data_root):
        for name in files:
            if not name.endswith(".parquet") or name.startswith("."):
                continue  # Spark sidecars (_SUCCESS, .crc) aren't data
            full = os.path.join(dirpath, name)
            rel = os.path.relpath(full, table_path)
            if rel in referenced or os.path.getmtime(full) > cutoff:
                continue
            os.remove(full)
            deleted.append(rel)
    # prune now-empty commit subdirectories so the data tree doesn't
    # accumulate husks of reclaimed commits
    for dirpath, dirs, files in os.walk(data_root, topdown=False):
        if dirpath != data_root and not dirs and not files:
            os.rmdir(dirpath)
    return sorted(deleted)


def append_stream_batch(df, table_path: str, batch_id: int,
                        n_files: int = 1) -> int | None:
    """Exactly-once per-epoch commit for ``writeStream.foreachBatch``:
    an ``append`` of *df* whose manifest RECORDS the epoch id, with
    replays made no-ops — Structured Streaming re-runs a failed epoch
    with the SAME batch_id, so idempotence of this call is what turns
    the sink's at-least-once delivery into exactly-once table state
    (the Delta/Iceberg ``txnAppId``/``txnVersion`` contract).

    The commit is an append in every other respect (one commit path,
    ``_commit``): it carries the parent's files, pending delete files
    and table metadata (constraints, partition spec, rename / default /
    drop / widen histories), evolves the schema by add-column only,
    stamps its new entries with their sequence number, and
    re-validates CHECK constraints that landed mid-commit.  Its files
    land under the table's active partition spec, when one is
    declared.  Operation ``stream-append``, tag ``batch_id``.

    Returns the committed version, or ``None`` when this epoch was
    already committed (replay) — decided BEFORE writing data files,
    and re-checked before every publish attempt, so two concurrent
    attempts of one epoch commit exactly once (the loser reclaims its
    files).  The decision consults BOTH the retained manifests and the
    durable high-water batch_id file (advanced on every commit,
    carried forward by ``vacuum``), so a replay of an epoch whose
    manifest retention already dropped is still a no-op — exactly-once
    survives vacuum."""
    def _committed() -> bool:
        hw = _read_marker(_hw_path(table_path))
        if hw is not None and batch_id <= hw:
            return True  # this epoch (or a later one) durably committed
        # newest-first with early stop: epoch ids commit in order for a
        # stream, so the first stream-append manifest carrying a batch
        # id BELOW ours proves ours was never committed — the check
        # stays O(1) manifest reads per epoch on a long-running stream
        # instead of O(versions)
        for v in reversed(versions(table_path)):
            bid = read_manifest(table_path, v).get("batch_id")
            if bid == batch_id:
                return True
            if bid is not None and bid < batch_id:
                return False
        return False

    if _committed():
        return None
    latest = _latest(table_path)
    validated = _validated(df, table_path, latest)
    entries = _write_data_files(
        df, table_path, n_files,
        partition_by=_active_spec(latest[1]),
    )
    revalidate = _revalidating(df, table_path, validated)
    return _commit(table_path, {
        "op": "stream-append", "tags": {"batch_id": batch_id},
        "add": entries, "schema": df.schema.jsonValue(), "evolve": True,
    }, check=lambda pv, parent: (
        _committed() or revalidate(pv, parent)), latest=latest)


def merge(source_df, table_path: str, key, n_files: int = 1,
          txn: tuple[str, int] | None = None,
          mode: str = "copy-on-write",
          isolation: str = "serializable",
          race_inject=None,
          evolve_schema: bool = False,
          matched_delete_where: str | None = None) -> int | None:
    """MERGE INTO: upsert *source_df* into the latest snapshot by
    *key* — one column name or a COMPOSITE list of them (the
    natural-key contract, r12; rows match when EVERY key column is
    equal, and stats pruning / conflict validation intersect
    per-column bounding boxes) — matched rows are replaced by the
    source row, unmatched source rows insert, everything else passes
    through.  Two modes,
    the Iceberg v2 pair:

    - ``copy-on-write`` (default): publish a new version that REWRITES
      ONLY the files that can contain a matched key (details below).
    - ``merge-on-read``: rewrite NOTHING — ONE atomic commit appends
      the post-image rows (at the new sequence number) AND an
      equality-delete file of the source keys (applying only to OLDER
      data), so matched rows become invisible and their replacements
      visible in the same snapshot.  Zero-rewrite upserts for
      SCATTERED keys; composes with pending deletes; ``compact()``
      materializes.

    The rewrite set is chosen by the manifest's per-file min/max stats
    on *key* against the source's [min, max] key range (one tiny agg
    job): a file whose key range is disjoint from the source's cannot
    hold a match and is CARRIED BY REFERENCE, byte-untouched — at
    100 TB this is the difference between rewriting a few files and
    rewriting the table.  Files with no recorded stats for *key* are
    conservatively rewritten.  Readers pinned to the prior version are
    unaffected (immutable files — snapshot isolation), and the commit
    validates its base version at publish time: if ANY other commit
    landed since the merge read its base, the merge fails loudly
    instead of lost-updating it (the Iceberg serializable-conflict
    contract; the caller retries on the new base).

    Row semantics are sinks.merge_upsert's (reference analog: the
    replace-else-create upsert at one_drive.py:130-211, lifted from
    file-by-name to row-by-key *as a ledger commit*).

    ``txn=(app_id, version)`` makes the merge an application
    transaction exactly as in ``delete``: a replay of an
    already-committed (app, version) returns ``None`` without writing
    anything, durable across vacuum — what lets an incremental-index
    epoch fold additive statistics (e.g. df += delta) without a replay
    double-applying the delta.

    ``matched_delete_where`` completes the MERGE matrix (r12 — the
    Delta ``whenMatchedDelete`` clause): a SQL predicate over the
    SOURCE row's columns; source rows satisfying it are DELETE
    intents — a matched target row is removed instead of replaced,
    an unmatched delete intent is a no-op — while the remaining
    source rows upsert as before, ALL IN ONE COMMIT.  This is the
    atomic CDC-batch apply: a feed with an op column lands as
    ``merge(feed, t, key, matched_delete_where="op = 'delete'")`` —
    updates, inserts, and deletes in a single snapshot, no window
    where deletes landed but updates didn't.  Under merge-on-read
    the single equality-delete file covers every source key and only
    the upsert rows re-insert; under copy-on-write the rewrite keeps
    neither.

    ``isolation`` picks the multi-writer conflict contract (r12):
    ``"serializable"`` (default, unchanged) fails loudly on ANY
    concurrent commit; ``"snapshot"`` REBASES over concurrent commits
    that are provably disjoint from this merge's read/write set —
    copy-on-write validates file-level (read files still live, no new
    delete files, no added file overlapping the source key range per
    manifest stats: ``_cow_rebase_conflict``), merge-on-read rebases
    over ANY data commit (it reads no data files; restamping its
    sequence numbers to the new version gives exactly the serial
    order's semantics) and refuses only on table-metadata drift.
    Either way the already-written data files are reused — a rebase
    costs one manifest link, never a rewrite.  At 1000 concurrent
    writers this is the difference between MOR upserts composing and
    every committer but one failing per round (the Iceberg
    commit.retry contract).  ``race_inject`` is a deterministic
    race-injection hook for tests (see ``_commit``)."""
    from pyspark.sql import functions as F

    if mode not in ("copy-on-write", "merge-on-read"):
        raise ValueError(f"merge: unknown mode {mode!r}")
    if isolation not in ("serializable", "snapshot"):
        raise ValueError(f"merge: unknown isolation {isolation!r}")
    if txn is not None and _txn_committed(table_path, txn[0], txn[1]):
        return None
    base = _base(table_path, "merge")
    manifest = base[1]
    # MERGE-matrix split (matched_delete_where): evaluate the intent
    # predicate FIRST, then drop source columns the table lacks —
    # they are predicate-only metadata (a CDC feed's op column), not
    # schema evolution.  The delete-file / anti-join key range keeps
    # the FULL source (delete keys prune and rewrite files exactly
    # like update keys).
    upsert_df = source_df
    if matched_delete_where is not None:
        upsert_df = source_df.filter(
            ~F.coalesce(F.expr(matched_delete_where), F.lit(False))
        )
        mschema = manifest.get("schema")
        if mschema is not None and not evolve_schema:
            tcols = {f["name"] for f in mschema["fields"]}
            meta_cols = [c for c in source_df.columns
                         if c not in tcols]
            if meta_cols:
                source_df = source_df.drop(*meta_cols)
                upsert_df = upsert_df.drop(*meta_cols)
    # constraints and partition spec come from the base manifest: a
    # concurrent change to either fails the publish (serializable) or
    # the rebase (_meta_drift)
    _validate_constraints(source_df, table_path,
                          manifest.get("constraints") or {})
    if mode == "copy-on-write" and manifest.get("delete_files"):
        raise ValueError(
            "merge: table has pending merge-on-read delete files — "
            "compact() to materialize them before a copy-on-write "
            "merge (rewritten files would resurrect deleted rows)"
        )
    schema_json = manifest.get("schema")
    if schema_json is not None:
        table_cols = [f["name"] for f in schema_json["fields"]]
        missing = [c for c in table_cols if c not in source_df.columns]
        if missing:
            raise ValueError(
                f"merge: source is missing table columns {missing} — "
                "MERGE rewrites whole rows; evolve the schema with an "
                "append first if the source genuinely adds columns"
            )
        extra = [c for c in source_df.columns if c not in table_cols]
        if extra and not evolve_schema:
            # ADVICE r10 (medium): silently accepting extra columns split
            # behavior by stats pruning — the touched-file branch selected
            # only existing.columns (dropping the values) while the
            # pure-insert branch kept them, and _merge_schema still
            # published the column, so readers saw null where the source
            # supplied data.  Fail loudly instead, matching the missing-
            # column guard: schema evolution is opt-in
            # (``evolve_schema=True``, the Delta mergeSchema contract).
            raise ValueError(
                f"merge: source has columns {extra} the table lacks — "
                "MERGE does not evolve the schema by default; pass "
                "evolve_schema=True (or append first)"
            )
        if extra:
            # opt-in evolution: re-introducing a DROPPED name would
            # resurrect old files' stale bytes — same handshake as
            # append's implicit add-column path
            revived = [c for c in extra
                       for d in (manifest.get("drops") or [])
                       if d["col"] == c]
            if revived:
                raise ValueError(
                    f"merge: column(s) {sorted(set(revived))} were "
                    "previously DROPPED — re-add via "
                    "snapshots.add_column first"
                )
        # same-name type conflicts still fail loudly (raises ValueError);
        # without evolution a passing merge publishes the table schema
        # unchanged, with it the NEW columns append (old files and
        # carried rows null-fill — the add-column contract applied
        # atomically with the upsert)
        evolved = _merge_schema(schema_json, source_df.schema.jsonValue())
        if evolve_schema and extra:
            schema_json = evolved
    commit = {
        "op": "merge",
        "tags": {"key": _key_store(key),
                 **({"txn": list(txn)} if txn is not None else {})},
        "schema": (schema_json if schema_json is not None
                   else source_df.schema.jsonValue()),
    }
    if mode == "merge-on-read":
        commit["add"] = _write_data_files(upsert_df, table_path, n_files,
                                          partition_by=_active_spec(manifest))
        return _equality_delete_commit(
            source_df, table_path, key, commit, base, 1, who="merge",
            isolation=isolation, race_inject=race_inject)
    commit["add"], commit["drop"], kbounds = _cow_rewrite(
        source_df.select(*_key_cols(key)), table_path, manifest,
        "merge: source has no rows (or all-null keys)", n_files,
        upsert=upsert_df, evolve=evolve_schema)
    return _commit(
        table_path, commit, who="merge", base=base,
        isolation=isolation, race_inject=race_inject,
        conflict=lambda latest: _cow_rebase_conflict(
            manifest, latest, kbounds, commit["drop"]),
    )


def _cow_rewrite(keys, table_path: str, manifest: dict, empty: str,
                 n_files: int, upsert=None,
                 evolve: bool = False) -> tuple[list, set, dict]:
    """The copy-on-write key rewrite of ``merge``, ``delete``,
    ``branch_merge`` and ``branch_delete_rows``: remove every row of
    *manifest*'s snapshot whose key appears in *keys* (a frame of the
    key columns), then add the *upsert* rows, if any.

    One tiny agg job probes *keys*' per-column [min, max] (*empty* is
    the error when it finds no rows); the manifest's per-file stats
    select the files that can hold one of them (``_entry_overlaps``) —
    every other file is CARRIED BY REFERENCE, byte-untouched, which at
    100 TB is the difference between rewriting a few files and
    rewriting the table.  Files with no recorded stats on a key column
    are conservatively rewritten.  The touched files' visible rows
    minus the keys, plus *upsert* (under ``evolve`` its new columns
    null-fill the carried rows), land under the base manifest's active
    partition spec.

    Returns ``(added entries, dropped paths, kbounds)`` — the commit
    description's ``add`` / ``drop`` and the key box
    ``_cow_rebase_conflict`` validates a rebase against."""
    from pyspark.sql import functions as F

    kcols = list(keys.columns)
    brow = keys.agg(*[a for c in kcols for a in (
        F.min(c).alias(f"lo_{c}"), F.max(c).alias(f"hi_{c}")
    )]).collect()[0]  # single-row agg probe — bounded
    if brow[f"lo_{kcols[0]}"] is None:
        raise ValueError(empty)
    kbounds = {c: (brow[f"lo_{c}"], brow[f"hi_{c}"]) for c in kcols}
    touched = [e for e in manifest["files"] if _entry_overlaps(e, kbounds)]
    result = upsert
    if touched:
        result = _scan_manifest(keys.sparkSession, table_path, manifest,
                                touched).join(keys, kcols, "left_anti")
        if upsert is not None:
            # under evolve the source carries NEW columns: carried rows
            # null-fill them (allowMissingColumns), matching what the
            # manifest schema does for untouched files
            result = result.unionByName(
                upsert.select(*[c for c in upsert.columns
                                if c in set(result.columns) or evolve]),
                allowMissingColumns=True,
            )
    # no touched files and nothing to upsert: every file's key range
    # misses the keys — a carry-only commit (still observable)
    added = [] if result is None else _write_data_files(
        result, table_path, n_files, partition_by=_active_spec(manifest))
    return added, {e["path"] for e in touched}, kbounds


def _equality_delete_commit(keys_df, table_path: str, key, commit: dict,
                            base: tuple[int, dict], n_files: int, *,
                            who: str, **commit_kw) -> int:
    """The merge-on-read arm of ``merge`` and ``delete``: commit the
    distinct keys of *keys_df* as an EQUALITY-DELETE file beside
    whatever *commit* already adds, in one link.  It rewrites nothing
    and reads no data file, so the only unsound rebase is table
    metadata drift; restamping the sequence numbers to the committed
    version gives exactly the serial order's semantics (the delete
    also covers rows a concurrent commit inserted — what a serial
    commit at that version would do)."""
    commit["tags"]["mode"] = "merge-on-read"
    commit["add_deletes"] = [
        {**e, "key": _key_store(key)}
        for e in _write_data_files(
            keys_df.select(*_key_cols(key)).distinct(), table_path,
            n_files)
    ]
    return _commit(table_path, commit, who=who, base=base,
                   conflict=lambda latest: _meta_drift(base[1], latest),
                   **commit_kw)


def _meta_drift(base_m: dict, latest_m: dict) -> str | None:
    """Did versioned TABLE metadata change between the commit's base
    snapshot and the current latest?  Any drift makes a rebase unsound
    (rewritten files were produced under the base's schema/layout/
    constraint set) — conservative refusal, the caller redoes the whole
    operation on the new base."""
    for k in _TABLE_META:
        if (base_m.get(k) or None) != (latest_m.get(k) or None):
            return f"table metadata {k!r} changed concurrently"

    def _shape(m):
        # (name, type) pairs only: a round-tripped nullability flip
        # (e.g. a compact re-reading parquet) is not schema drift
        sch = m.get("schema")
        return ([(f["name"], f["type"]) for f in sch["fields"]]
                if sch else None)

    if _shape(base_m) != _shape(latest_m):
        return "table schema changed concurrently"
    return None


def _cow_rebase_conflict(base_m: dict, latest_m: dict,
                         kbounds: dict, read_paths: set) -> str | None:
    """Can a copy-on-write rewrite computed against *base_m* be
    republished on top of *latest_m* unchanged?  The Iceberg
    snapshot-isolation validation, file-level:

    - every file the operation READ must still be live (a concurrent
      rewrite of one means our before-image is stale — true conflict);
    - no concurrent equality-delete may be pending (our rewritten
      files carry a NEWER sequence number, so deleted keys restated by
      the rewrite would escape the delete — resurrection);
    - no concurrent commit may have ADDED a file whose [min, max]
      range on the operation's key can intersect its key range (a
      serial execution would have matched those rows; files without
      recorded stats conflict conservatively).

    Returns None when the rebase is provably disjoint, else the
    human-readable conflict reason."""
    drift = _meta_drift(base_m, latest_m)
    if drift:
        return drift
    latest_by = {e["path"]: e for e in latest_m["files"]}
    gone = read_paths - set(latest_by)
    if gone:
        return (f"{len(gone)} file(s) this operation read were "
                "rewritten/removed by a concurrent commit")
    base_dels = {d["path"] for d in base_m.get("delete_files") or []}
    latest_dels = {d["path"] for d in latest_m.get("delete_files") or []}
    if latest_dels - base_dels:
        return ("a concurrent merge-on-read delete landed — rows "
                "restated by this rewrite would escape it")
    if base_dels - latest_dels:
        return "concurrent commit dropped delete files this read applied"
    base_paths = {e["path"] for e in base_m["files"]}
    for p, e in latest_by.items():
        if p in base_paths:
            continue
        if _entry_overlaps(e, kbounds):
            return ("a concurrent commit added file(s) overlapping "
                    f"this operation's key range {kbounds!r}")
    return None


def _positional_conflict(base_m: dict, latest_m: dict,
                         targets: list[str]) -> str | None:
    """The rebase check of the positional commits (``delete_where``,
    ``update_where``): no metadata drift, every target file still
    live (a position addresses one immutable file), and the same
    pending delete set (the match set was computed under it)."""
    why = _meta_drift(base_m, latest_m)
    if why:
        return why
    if not set(targets) <= {e["path"] for e in latest_m["files"]}:
        return ("a concurrent commit rewrote/removed file(s) this "
                "commit's positional delete targets")
    if ({d["path"] for d in latest_m.get("delete_files") or []}
            != {d["path"] for d in base_m.get("delete_files") or []}):
        return "delete files changed concurrently"
    return None


def delete(keys_df, table_path: str, key, n_files: int = 1,
           txn: tuple[str, int] | None = None,
           mode: str = "copy-on-write",
           isolation: str = "serializable",
           race_inject=None) -> int | None:
    """Row-level DELETE as a ledger commit: remove every row of the
    latest snapshot whose *key* appears in *keys_df*.  Two modes — the
    Iceberg v2 pair, chosen per call:

    - ``copy-on-write`` (default): rewrite ONLY the files whose
      manifest [min, max] range on *key* can intersect the delete set
      (disjoint files are carried by reference, byte-untouched — the
      same stats-pruned rewrite as ``merge``).  Best when deletes
      cluster by key range.
    - ``merge-on-read``: rewrite NOTHING — the key set itself is
      committed as an EQUALITY-DELETE file; readers anti-join it, and
      it applies only to data files with a LOWER sequence number, so a
      later re-insert of the same key survives (the Iceberg v2
      sequence-number contract).  Best for SCATTERED keys (a
      retraction set hash-distributed over the corpus would touch
      every file under copy-on-write); ``compact()`` materializes the
      deletes and drops the delete files.

    Readers pinned to any prior version still see the deleted rows —
    snapshot isolation by construction — and the commit validates its
    base version at publish time (serializable conflict, loud failure).

    ``txn=(app_id, version)`` makes the commit an APPLICATION
    TRANSACTION: a replay of an already-committed (app, version) is a
    no-op returning ``None`` — decided before any data file is written,
    durable across vacuum via the per-app high-water file (the Delta
    txnAppId/txnVersion contract; what lets a retraction epoch replay
    safely).  App versions must be issued in increasing order per app.

    Reference analog: the replace-else-create upsert (one_drive.py:
    130-211) is latest-wins at FILE grain; this is the row-grain
    retraction that a closed curation loop needs (VERDICT r10 item 1).

    ``isolation`` / ``race_inject``: the same multi-writer contract as
    ``merge`` — ``"snapshot"`` rebases over provably-disjoint
    concurrent commits instead of refusing (file-level validation for
    copy-on-write, metadata-drift-only for merge-on-read; see
    ``_commit``).
    """
    if mode not in ("copy-on-write", "merge-on-read"):
        raise ValueError(f"delete: unknown mode {mode!r}")
    if isolation not in ("serializable", "snapshot"):
        raise ValueError(f"delete: unknown isolation {isolation!r}")
    if txn is not None and _txn_committed(table_path, txn[0], txn[1]):
        return None
    base = _base(table_path, "delete")
    manifest = base[1]
    commit = {
        "op": "delete",
        "tags": {"key": _key_store(key),
                 **({"txn": list(txn)} if txn is not None else {})},
        "schema": manifest.get("schema"),
    }
    if mode == "merge-on-read":
        return _equality_delete_commit(
            keys_df, table_path, key, commit, base, n_files, who="delete",
            isolation=isolation, race_inject=race_inject)
    if manifest.get("delete_files"):
        raise ValueError(
            "delete: table has pending merge-on-read delete files — "
            "compact() to materialize them before a copy-on-write "
            "delete (rewritten files would resurrect deleted rows)"
        )
    commit["add"], commit["drop"], kbounds = _cow_rewrite(
        keys_df.select(*_key_cols(key)).distinct(), table_path, manifest,
        "delete: keys_df has no rows (or all-null keys)", n_files)
    return _commit(
        table_path, commit, who="delete", base=base,
        isolation=isolation, race_inject=race_inject,
        conflict=lambda latest: _cow_rebase_conflict(
            manifest, latest, kbounds, commit["drop"]),
    )


def delete_where(spark, table_path: str, predicate: str,
                 txn: tuple[str, int] | None = None,
                 isolation: str = "serializable",
                 race_inject=None) -> int | None:
    """Predicate DELETE as POSITIONAL delete files — the second
    Iceberg v2 delete form beside ``delete``'s equality deletes, and
    the deletion-vector analog (Delta DVs / Iceberg v3 store the same
    (file, ordinal) coordinates as a bitmap sidecar):

    - the predicate is evaluated ONCE over the current snapshot's
      VISIBLE rows with each row's ``(file, ordinal)`` coordinate
      attached engine-side (``_metadata.row_index`` — no synthetic id,
      no shuffle); the matching coordinates are committed as a delete
      file listing ``(file_rel, pos)`` pairs;
    - NO data file is rewritten; readers anti-join targeted files on
      the coordinate pair (an equi-join AQE broadcasts when the delete
      set is small), untargeted files never pay anything;
    - applicability is by FILE IDENTITY (the recorded ``targets``),
      not sequence number: files are immutable, so a position can
      never address later data — re-inserted rows trivially survive;
    - works on tables with NO key column and with duplicate rows
      (deletes exactly the matched physical rows) — what equality
      deletes cannot express;
    - ``compact()`` / ``purge_deletes()`` materialize, the row-CDC
      feeds emit exactly the deleted pre-images, and ``txn`` gives
      the same durable replay-no-op contract as ``delete``.

    Why this beats the copy-on-write predicate delete at 100 TB: a
    low-selectivity predicate scattered over the corpus (a PII purge,
    a contamination retraction) touches most files — COW rewrites
    them all; this commits one coordinate list sized by the MATCHES.

    ``isolation="snapshot"`` rebases over concurrent commits when
    every target file is still live, no delete file changed hands,
    and table metadata didn't drift; the predicate stays evaluated
    at THIS snapshot (concurrent appends' matching rows survive — the
    documented snapshot-isolation semantics; use serializable when
    the predicate must cover them).

    Zero matches publishes a carry-only commit (observable no-op, the
    txn marker still lands).  Returns the committed version, or None
    on a replayed txn."""
    if isolation not in ("serializable", "snapshot"):
        raise ValueError(f"delete_where: unknown isolation {isolation!r}")
    if txn is not None and _txn_committed(table_path, txn[0], txn[1]):
        return None
    base = _base(table_path, "delete_where")
    return _positional_commit(spark, table_path, base, predicate, {
        "op": "delete",
        "tags": {"mode": "positional",
                 **({"txn": list(txn)} if txn is not None else {})},
        "schema": base[1].get("schema"),
    }, who="delete_where", isolation=isolation, race_inject=race_inject)


def _positional_commit(spark, table_path: str, base: tuple[int, dict],
                       predicate: str, commit: dict, *, who: str,
                       post=None, n_files: int = 1, **commit_kw) -> int:
    """The positional match of ``delete_where`` and ``update_where``:
    evaluate *predicate* once over the *base* snapshot's visible rows
    with their ``(file, ordinal)`` coordinates, and commit the matches'
    coordinates as one positional delete file targeting the matched
    files — plus, when *post* is given, the post-images it maps the
    matched rows to, under the base's active partition spec.  Adopted
    external files are refused (coordinates are table-relative); zero
    matches publishes a carry-only commit; a rebase is validated by
    ``_positional_conflict``."""
    from pyspark.sql import functions as F

    manifest = base[1]
    if any(e.get("external") for e in manifest["files"]):
        raise ValueError(
            f"{who}: table lists ADOPTED external files — "
            "positional coordinates are table-relative; compact() to "
            "internalize them first"
        )
    matched = _scan_manifest(spark, table_path, manifest,
                             with_pos=True).filter(predicate)
    coords = matched.select(
        F.col("_file_rel").alias("file_rel"), F.col("_pos").alias("pos")
    )
    targets = sorted(
        r["file_rel"]
        for r in coords.select("file_rel").distinct().collect()
    )  # bounded by the snapshot's FILE count, never its rows
    if targets:
        if post is not None:
            commit["add"] = _write_data_files(
                post(matched.drop("_file_rel", "_pos")), table_path,
                n_files, partition_by=_active_spec(manifest))
        commit["add_deletes"] = [
            {**e, "kind": "positional", "targets": targets}
            for e in _write_data_files(coords, table_path, 1)
        ]
    return _commit(
        table_path, commit, who=who, base=base,
        conflict=lambda latest: _positional_conflict(
            manifest, latest, targets),
        **commit_kw,
    )


def update_where(spark, table_path: str, predicate: str,
                 assignments: dict[str, str], n_files: int = 1,
                 txn: tuple[str, int] | None = None,
                 isolation: str = "serializable",
                 race_inject=None) -> int | None:
    """Predicate UPDATE as ONE atomic merge-on-read commit — the
    Delta/Iceberg ``UPDATE ... SET`` shape, completing the DML matrix
    beside append/merge/delete/delete_where: the matching rows'
    ``(file, ordinal)`` coordinates are committed as a positional
    delete file AND their post-images (each ``assignments`` expr
    evaluated engine-side, cast to the column's declared type) as new
    data files, in a single manifest link — readers of the new
    version see the update applied, readers of any prior version see
    nothing, and there is no window where the rows are missing.

    Zero untouched bytes rewritten: cost is O(matches), so a
    scattered low-selectivity update (a PII rewrite across a 100 TB
    corpus) commits coordinates + post-images instead of rewriting
    most files.  Works on key-less/duplicate-row tables (coordinates,
    not keys).  Post-images validate against CHECK constraints; the
    CDC feeds emit ``update_preimage``/``update_postimage`` rows with
    identical restatements cancelled (a no-op assignment emits
    nothing), bit-equal between the batch and streaming readers;
    ``compact()``/``purge_deletes()`` materialize.

    The match set is computed twice (coordinates job + post-image
    job) — deterministic by construction: immutable files, one pinned
    snapshot, the same pushed-down predicate.

    ``isolation="snapshot"`` rebases like ``delete_where`` (targets
    still live, delete set unchanged, no metadata drift); ``txn``
    gives the durable replay-no-op contract.  Zero matches publishes
    a carry-only commit.  Returns the version, or None on replay."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    if isolation not in ("serializable", "snapshot"):
        raise ValueError(f"update_where: unknown isolation {isolation!r}")
    if not assignments:
        raise ValueError("update_where: no assignments")
    if txn is not None and _txn_committed(table_path, txn[0], txn[1]):
        return None
    base = _base(table_path, "update_where")
    manifest = base[1]
    schema_json = manifest.get("schema")
    bad = [c for c in assignments
           if schema_json is not None
           and c not in {f["name"] for f in schema_json["fields"]}]
    if bad:
        raise ValueError(
            f"update_where: assignment column(s) {bad} not in the "
            "table schema — UPDATE never evolves the schema"
        )

    def post(matched):
        # each assignment evaluated engine-side, cast to the column's
        # declared type; post-images validate against the base's CHECK
        # constraints (a concurrent change fails the publish or rebase)
        st = StructType.fromJson(schema_json) if schema_json else None
        for col, expr in sorted(assignments.items()):
            val = F.expr(expr)
            matched = matched.withColumn(
                col, val.cast(st[col].dataType) if st else val)
        _validate_constraints(matched, table_path,
                              manifest.get("constraints") or {})
        return matched

    return _positional_commit(spark, table_path, base, predicate, {
        "op": "update",
        "tags": {"mode": "positional",
                 **({"txn": list(txn)} if txn is not None else {})},
        "schema": schema_json,
    }, who="update_where", post=post, n_files=n_files,
        isolation=isolation, race_inject=race_inject)


# ---------------------------------------------------------------------------
# Table management: CHECK constraints, tags, rollback (r11)

def table_constraints(table_path: str) -> dict[str, str]:
    """The CHECK constraints recorded on the latest snapshot (empty if
    none).  Constraints are MANIFEST metadata — versioned with the
    table, carried by every commit type, visible to time travel."""
    return (_latest(table_path)[1] or {}).get("constraints") or {}


def _validate_constraints(df, table_path: str,
                          cons: dict | None = None) -> None:
    """Refuse rows that violate the table's CHECK constraints — SQL
    CHECK semantics: a row fails only when the expression is FALSE
    (null passes).  ONE agg job over the incoming rows, all
    constraints at once (O(delta) enforcement: only new data pays),
    single-row collect — bounded.  *cons* overrides the constraint set
    (the publish retry loop re-validates against the set the commit
    will actually carry — the TOCTOU close, ADVICE r11)."""
    from pyspark.sql import functions as F

    if cons is None:
        cons = table_constraints(table_path)
    if not cons:
        return
    aggs = [
        F.sum(
            F.when(F.expr(expr).eqNullSafe(F.lit(False)), 1).otherwise(0)
        ).alias(name)
        for name, expr in sorted(cons.items())
    ]
    row = df.agg(*aggs).collect()[0]
    bad = {name: int(row[name] or 0) for name in cons
           if (row[name] or 0) > 0}
    if bad:
        raise ValueError(
            f"CHECK constraint violation at {table_path}: "
            + ", ".join(f"{n!r} fails on {c} incoming row(s)"
                        for n, c in sorted(bad.items()))
            + " — commit refused, table unchanged"
        )


def add_constraint(spark, table_path: str, name: str, expr: str) -> int:
    """ADD a named CHECK constraint as a METADATA-ONLY ledger commit
    (operation ``set-constraint``, files carried by reference): the
    EXISTING data must already satisfy it — validated with one agg job
    over the current snapshot, exactly Delta's ALTER TABLE ADD
    CONSTRAINT contract — and every later append/overwrite/merge
    validates its incoming rows (O(delta)) and refuses loudly on
    violation.  Returns the committed version."""
    cons = _base(table_path, "add_constraint")[1].get("constraints") or {}
    if name in cons:
        raise ValueError(
            f"add_constraint: {name!r} already exists "
            f"({cons[name]!r}); drop it first"
        )
    from pyspark.sql import functions as F

    existing = read(spark, table_path)
    n_bad = existing.agg(
        F.sum(
            F.when(F.expr(expr).eqNullSafe(F.lit(False)), 1).otherwise(0)
        ).alias("n")
    ).collect()[0]["n"]  # single-row probe — bounded
    if n_bad:
        raise ValueError(
            f"add_constraint: existing data violates {name!r} "
            f"({expr}) on {int(n_bad)} row(s) — clean up first"
        )
    return _commit(table_path, {"op": "set-constraint",
                                "meta": {"constraints": {**cons, name: expr}}})


def drop_constraint(table_path: str, name: str) -> int:
    """Remove a CHECK constraint — a metadata-only commit."""
    cons = table_constraints(table_path)
    if name not in cons:
        raise ValueError(f"drop_constraint: no constraint {name!r}")
    return _commit(table_path, {"op": "set-constraint", "meta": {
        "constraints": {k: v for k, v in cons.items() if k != name}}})


def _refs_dir(table_path: str) -> str:
    return os.path.join(table_path, "_refs")


def tag(table_path: str, name: str, version: int | None = None) -> int:
    """Pin *version* (default: latest) under an immutable named TAG —
    the Iceberg ref: a release label a reader can address
    (``read(ref=...)``) and a RETENTION PIN (``vacuum`` never reclaims
    a tagged version's manifest or files, however old).  Exclusive
    create: re-tagging an existing name fails loudly (delete it
    first); tag names are filesystem-safe identifiers."""
    if not re.fullmatch(r"[A-Za-z0-9._-]+", name):
        raise ValueError(f"tag: unsafe name {name!r}")
    vs = versions(table_path)
    if not vs:
        raise ValueError(f"tag: {table_path} has no versions")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(f"tag: version {v} not in {vs}")
    d = _refs_dir(table_path)
    os.makedirs(d, exist_ok=True)
    if not _link_json(os.path.join(d, f"{name}.json"),
                      {"version": v, "created_at": time.time()}):
        raise ValueError(
            f"tag: {name!r} already exists at {table_path} — tags are "
            "immutable; delete_tag() first"
        )
    return v


def tags(table_path: str) -> dict[str, int]:
    d = _refs_dir(table_path)
    if not os.path.isdir(d):
        return {}
    out = {}
    for fn in os.listdir(d):
        if fn.endswith(".json") and not fn.startswith("."):
            with open(os.path.join(d, fn)) as f:
                out[fn[:-5]] = json.load(f)["version"]
    return out


def delete_tag(table_path: str, name: str) -> None:
    p = os.path.join(_refs_dir(table_path), f"{name}.json")
    if not os.path.exists(p):
        raise ValueError(f"delete_tag: no tag {name!r} at {table_path}")
    os.remove(p)


def resolve_ref(table_path: str, ref: str) -> int:
    got = tags(table_path)
    if ref not in got:
        raise ValueError(
            f"ref {ref!r} not found at {table_path}; have {sorted(got)}"
        )
    return got[ref]


def rollback(table_path: str, to_version: int) -> int:
    """RESTORE the table to *to_version*'s full state (files, schema,
    pending delete files, constraints) as a NEW commit — metadata-only
    (zero data I/O: the target's immutable files are re-listed by
    reference), history-preserving (the rolled-back versions stay
    readable), and safe under concurrency (exclusive-create publish
    with retry, like every commit).  The Delta RESTORE / Iceberg
    rollback contract: undo is a forward commit, never a rewrite."""
    vs = versions(table_path)
    if to_version not in vs:
        raise ValueError(f"rollback: version {to_version} not in {vs}")
    target = read_manifest(table_path, to_version)
    # an empty commit ON TOP OF the target snapshot: its files, delete
    # files, schema and table metadata carry verbatim, and so does any
    # other key it recorded — except what describes the operation that
    # MADE it: key/mode carried on misled the CDC feeds into keyed/
    # merge-on-read classification (r12)
    skip = {"version", "committed_at", "operation", "batch_id", "txn",
            "key", "mode", "files", "delete_files", "schema",
            *_TABLE_META}
    v = _commit(table_path, {
        "op": "rollback", "onto": target,
        "tags": {**{k: val for k, val in target.items()
                    if k not in skip}, "rollback_of": to_version},
    }, check=lambda pv, _p: pv == to_version)
    return to_version if v is None else v  # already there: no commit


# ---------------------------------------------------------------------------
# Maintenance planning: bin-pack OPTIMIZE + metadata tables (r11)

def optimize(spark, table_path: str, small_file_rows: int,
             target_rows: int | None = None,
             small_file_bytes: int | None = None,
             target_bytes: int | None = None) -> int | None:
    """Bin-pack OPTIMIZE: rewrite ONLY the latest snapshot's
    UNDERSIZED data files (``rows < small_file_rows``) into
    consolidated files of ~*target_rows* rows (default: one file),
    carrying every adequately-sized file BY REFERENCE — the real
    OPTIMIZE contract: small-file maintenance on a 100 TB table costs
    the small files, never a full rewrite (``compact`` is the
    everything-rewrite; this is the incremental maintenance loop runs
    nightly).  Publishes as a ``compact`` operation (``mode:
    bin-pack``) so the row-CDC feed stays SILENT by contract —
    subscribers don't wake for layout maintenance.  Serializable: the
    commit validates its base version at publish time and fails loudly
    on a concurrent commit.  Returns the committed version, or
    ``None`` when fewer than two files are undersized (nothing worth
    packing — an empty maintenance commit would just churn manifests).
    """
    base = _base(table_path, "optimize")
    manifest = base[1]
    if manifest.get("delete_files"):
        raise ValueError(
            "optimize: table has pending merge-on-read delete files — "
            "compact() to materialize them first (bin-packing a subset "
            "of files cannot reconcile sequence-numbered deletes)"
        )
    def _is_small(e: dict) -> bool:
        # byte mode when the caller gives a byte threshold AND the
        # entry recorded its size (r12: _write_data_files stamps
        # ``bytes``; pre-r12 entries fall back to the row threshold) —
        # bytes are what actually size scan tasks and shuffle spill,
        # rows are only a proxy
        if small_file_bytes is not None and e.get("bytes") is not None:
            return e["bytes"] < small_file_bytes
        return e["rows"] < small_file_rows

    small = [e for e in manifest["files"] if _is_small(e)]
    if len(small) < 2:
        return None
    if target_bytes is not None and all(
            e.get("bytes") is not None for e in small):
        total_b = sum(e["bytes"] for e in small)
        n_out = max(1, -(-total_b // max(1, target_bytes)))
    else:
        total = sum(e["rows"] for e in small)
        n_out = (
            1 if target_rows is None
            else max(1, -(-total // max(1, target_rows)))
        )
    content = _scan_manifest(spark, table_path, manifest, small)
    return _commit(table_path, {
        "op": "compact", "tags": {"mode": "bin-pack"},
        "add": _write_data_files(content, table_path, n_out,
                                 partition_by=_active_spec(manifest)),
        "drop": {e["path"] for e in small},
    }, who="optimize", base=base)


def purge_deletes(spark, table_path: str, n_files: int = 1) -> int | None:
    """MINOR compaction: materialize the pending merge-on-read
    equality-delete files into the data files they can actually hit,
    and NOTHING else — the Iceberg ``rewrite_position_deletes``/
    Delta ``REORG PURGE`` shape, and the scale-honest alternative to
    ``compact()`` (which rewrites the whole table to shed deletes).

    The affected set is chosen from manifest stats alone: a data file
    is rewritten only when some delete file with a HIGHER sequence
    number has an intersecting key range (``delete_applies`` — the
    same rule the change feeds use); every other file is
    carried by reference, byte-untouched.  On a 100 TB table where a
    retraction touched a few key ranges, this rewrites those files and
    drops the delete files in one commit — O(affected), never
    O(table).  Returns the new version, or None when there are no
    pending delete files (nothing to purge is not an error)."""
    base = _base(table_path, "purge_deletes")
    manifest = base[1]
    deletes = manifest.get("delete_files")
    if not deletes:
        return None
    applying = delete_index(deletes)
    affected = [e for e in manifest["files"] if applying(e)]
    entries: list[dict] = []
    if affected:
        # scan ONLY the affected files with their applicable deletes
        # reconciled (sequence-number semantics preserved), rewrite
        # them clean
        survivors = _scan_manifest(spark, table_path, manifest, affected)
        entries = _write_data_files(survivors, table_path, n_files,
                                    partition_by=_active_spec(manifest))
    # published as a compact variant (like optimize's bin-pack): visible
    # content is IDENTICAL before and after, so every CDC consumer's
    # "compact = zero changes" contract applies verbatim; the delete
    # files are dropped — this commit materializes them into the
    # affected files' rewrites
    return _commit(table_path, {
        "op": "compact", "tags": {"mode": "purge-deletes"},
        "add": entries,
        "drop": {x["path"] for x in affected + deletes},
    }, who="purge_deletes", base=base)


def recluster(spark, table_path: str, cluster_by: list[str],
              n_files: int | None = None) -> int | None:
    """INCREMENTAL clustering — the Delta liquid-clustering shape, and
    the scale-honest alternative to ``compact(cluster_by=...)`` (which
    rewrites the whole table to restore layout): rewrite ONLY the files
    whose key ranges OVERLAP another file's, leaving every
    already-disjoint file carried by reference, byte-untouched.

    The decision is manifest metadata alone: files are grouped by
    interval overlap on the FIRST clustering column (a sort + sweep
    over the manifest entries — the pruning-relevant dimension; deeper
    columns order rows within the rewrite).  A file with no recorded
    stats on that column is treated as spanning everything
    (conservatively rewritten).  Steady state on a 100 TB table: each
    ingest's new files overlap each other and a handful of old files
    at the range seams — recluster rewrites those groups and nothing
    else, and the table converges back to pairwise-disjoint files
    whose min/max stats prune like an index.

    Pending merge-on-read deletes are MATERIALIZED into the rewritten
    groups (their scan reconciles applicable delete files, and the
    rewrite's higher sequence number ends their applicability there)
    while staying in force for the untouched files — visible content
    is identical before and after, so the commit publishes as a
    compact variant and every CDC consumer stays silent.

    Returns the new version, or None when every file is already
    disjoint (nothing to do is not an error)."""
    if not cluster_by:
        raise ValueError("recluster: cluster_by needs >= 1 column")
    base = _base(table_path, "recluster")
    manifest = base[1]
    col = cluster_by[0]
    neg_inf, pos_inf = object(), object()  # sort-stable sentinels

    def _bounds(e: dict):
        mn = e.get("stats", {}).get(f"min_{col}")
        mx = e.get("stats", {}).get(f"max_{col}")
        return (neg_inf if mn is None else mn,
                pos_inf if mx is None else mx)

    # sweep entries in min order, chaining a group while intervals
    # overlap — stat-less files sort first and their +inf max chains
    # them (and everything after) into one group
    def _key(e):
        mn, _ = _bounds(e)
        return (0, 0) if mn is neg_inf else (1, mn)

    ordered = sorted(manifest["files"], key=_key)
    groups: list[list[dict]] = []
    group_hi = None
    for e in ordered:
        mn, mx = _bounds(e)
        if (groups and group_hi is not None
                and (group_hi is pos_inf or mn is neg_inf
                     or mn <= group_hi)):
            groups[-1].append(e)
            if group_hi is not pos_inf and (
                    mx is pos_inf or mx > group_hi):
                group_hi = mx
        else:
            groups.append([e])
            group_hi = mx
    affected = [e for g in groups if len(g) > 1 for e in g]
    if not affected:
        return None  # already pairwise-disjoint: no commit
    content = _scan_manifest(spark, table_path, manifest, affected)
    # content-identical, so CDC-silent; pending delete files stay in
    # force for the untouched files (lower seq) — the rewritten
    # entries' higher seq ends their applicability there
    return _commit(table_path, {
        "op": "compact", "tags": {"mode": "recluster"},
        "add": _write_data_files(
            content, table_path,
            n_files if n_files is not None else max(1, len(affected)),
            cluster_by=cluster_by,
        ),
        "drop": {e["path"] for e in affected},
    }, who="recluster", base=base)


def maintain(spark, table_path: str, *, small_file_rows: int,
             cluster_by: list[str] | None = None,
             orphan_grace_seconds: float = 86400.0,
             expire_older_than: float | None = None,
             keep_last: int = 1,
             small_file_bytes: int | None = None,
             target_bytes: int | None = None) -> list[dict]:
    """One-call MAINTENANCE POLICY loop — what a 100 TB operator runs
    nightly: every decision is made from the latest manifest (zero
    data I/O to decide), every data action is a compact-variant commit
    (CDC-SILENT: subscribers never wake for maintenance), and the
    composition order makes the passes converge instead of undoing
    each other:

    1. ``purge_deletes`` — materialize pending merge-on-read deletes
       into only the files they hit (must run first: bin-pack and
       metadata counts refuse under pending deletes);
    2. ``optimize`` — bin-pack files smaller than *small_file_rows*
       (merging small disjoint files interleaves key ranges, so this
       runs BEFORE reclustering, which then restores disjointness);
    3. ``recluster`` — rewrite only the overlap groups on
       *cluster_by* (skipped when no clustering is declared);
    4. ``remove_orphans`` — reclaim unreferenced files older than the
       grace window;
    5. ``expire_snapshots`` — age-based manifest retention, only when
       *expire_older_than* is given (tagged pins always survive).

    Returns the action report: one ``{"action", ...}`` dict per pass
    that actually did something — an already-healthy table returns
    ``[]``, and re-running maintain immediately is a no-op (the
    convergence test)."""
    report: list[dict] = []
    v = purge_deletes(spark, table_path)
    if v is not None:
        report.append({"action": "purge_deletes", "version": v})
    v = optimize(spark, table_path, small_file_rows,
                 small_file_bytes=small_file_bytes,
                 target_bytes=target_bytes)
    if v is not None:
        report.append({"action": "optimize", "version": v})
    if cluster_by:
        v = recluster(spark, table_path, cluster_by)
        if v is not None:
            report.append({"action": "recluster", "version": v})
    orphans = remove_orphans(table_path,
                             older_than_seconds=orphan_grace_seconds)
    if orphans:
        report.append({"action": "remove_orphans", "files": len(orphans)})
    if expire_older_than is not None:
        expired = expire_snapshots(table_path, expire_older_than,
                                   keep_last=keep_last)
        if expired:
            report.append({"action": "expire_snapshots",
                           "files": len(expired)})
    return report


def history(spark, table_path: str):
    """The commit log as a DataFrame — DESCRIBE HISTORY: one row per
    retained version with its operation, file/row footprint, and
    commit metadata.  Pure manifest reads (bounded by the retention
    window), zero data I/O — the self-description every table format
    owes its operators."""
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    rows = []
    for v in versions(table_path):
        m = read_manifest(table_path, v)
        rows.append((
            v,
            m.get("operation"),
            m.get("mode"),
            len(m["files"]),
            len(m.get("delete_files") or []),
            sum(e["rows"] for e in m["files"]),
            float(m["committed_at"]) if m.get("committed_at") else None,
            ",".join(_key_cols(m["key"])) if m.get("key") else None,
            m.get("rollback_of"),
        ))
    schema = StructType([
        StructField("version", LongType()),
        StructField("operation", StringType()),
        StructField("mode", StringType()),
        StructField("n_files", LongType()),
        StructField("n_delete_files", LongType()),
        StructField("total_rows", LongType()),
        StructField("committed_at", DoubleType()),
        StructField("key", StringType()),
        StructField("rollback_of", LongType()),
    ])
    return spark.createDataFrame(rows, schema)


def files_table(spark, table_path: str, version: int | None = None):
    """A snapshot's manifest entries as a DataFrame — the ``.files``
    metadata table: path, row count, sequence number, partition value,
    and which columns carry bloom sidecars.  Manifest-only (zero data
    I/O); the planning surface file-count and skew audits read."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    rows = []
    for e in _base(table_path, "files_table", version)[1]["files"]:
        part = e.get("partition")
        rows.append((
            e["path"],
            e["rows"],
            e.get("bytes"),
            e.get("seq"),
            json.dumps(part, sort_keys=True) if part else None,
            ",".join(sorted(e.get("bloom") or {})) or None,
        ))
    schema = StructType([
        StructField("path", StringType()),
        StructField("rows", LongType()),
        StructField("bytes", LongType()),
        StructField("seq", LongType()),
        StructField("partition", StringType()),
        StructField("bloom_cols", StringType()),
    ])
    return spark.createDataFrame(rows, schema)


def delete_files_table(spark, table_path: str,
                       version: int | None = None):
    """A snapshot's PENDING delete files as a DataFrame — the
    ``.delete_files`` metadata table beside ``files_table``: kind
    (equality/positional), key or target count, row count, sequence
    number.  Manifest-only (zero data I/O) — what a maintenance
    scheduler reads to decide when a ``purge_deletes`` pass pays for
    itself (read amplification = pending delete rows x targeted
    files)."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    rows = []
    m = _base(table_path, "delete_files_table", version)[1]
    for d in m.get("delete_files") or []:
        kind = d.get("kind", "equality")
        rows.append((
            d["path"],
            kind,
            ",".join(_key_cols(d["key"])) if d.get("key") else None,
            len(d.get("targets") or []) if kind == "positional" else None,
            d["rows"],
            d.get("seq"),
        ))
    schema = StructType([
        StructField("path", StringType()),
        StructField("kind", StringType()),
        StructField("key", StringType()),
        StructField("n_targets", LongType()),
        StructField("rows", LongType()),
        StructField("seq", LongType()),
    ])
    return spark.createDataFrame(rows, schema)


def table_rows(table_path: str, version: int | None = None) -> int:
    """Exact row count from manifest metadata — zero data I/O: data
    files are immutable so the per-entry counts recorded at write time
    stay true.  Refuses tables with PENDING merge-on-read deletes
    (their visible count needs the equality-delete reconciliation a
    scan does; ``compact()`` first) rather than over-counting."""
    m = _base(table_path, "table_rows", version)[1]
    if m.get("delete_files"):
        raise ValueError(
            "table_rows: pending merge-on-read delete files make the "
            "manifest count an over-estimate — compact() first"
        )
    return sum(e["rows"] for e in m["files"])


def table_bytes(table_path: str, version: int | None = None) -> int:
    """Total data bytes of a snapshot from manifest metadata — zero
    data I/O (r12, guide §8 "decide with small rows"): the spread
    guards that decide whether a downstream fan-out needs an explicit
    repartition should read the SIZE from the manifest, not probe the
    plan — ``df.rdd.getNumPartitions()`` on a frame containing a join
    EXECUTES the join's child stages under AQE (throwaway jobs, twice
    the work at any scale).  Entries written before ``bytes`` was
    recorded count 0 — conservative for small-table decisions."""
    m = _base(table_path, "table_bytes", version)[1]
    return sum(e.get("bytes", 0) for e in m["files"])


def changed_file_count(table_path: str, from_version: int,
                       to_version: int) -> int:
    """Number of data files ``read_changes`` would scan between two
    versions — the manifest-metadata twin of probing that frame's
    partition count (r12): a scan of k tiny files yields ~k splits,
    so spread decisions for delta consumers can be made without
    planning the frame."""
    old = {e["path"] for e in read_manifest(table_path, from_version)["files"]}
    return sum(
        1 for e in read_manifest(table_path, to_version)["files"]
        if e["path"] not in old
    )


def delta_is_narrow(spark, table_path: str, from_version: int,
                    to_version: int, target: int) -> bool:
    """Spread decision for a delta-scan consumer, from manifest
    metadata only (zero jobs, zero planning): True when the scan of
    ``read_changes(from, to)`` cannot be relied on to produce at least
    *target* partitions — EITHER fewer changed files than *target*, OR
    changed bytes under target × maxPartitionBytes (FilePartition
    bin-packing can coalesce many small files into few splits — ADVICE
    r12).  At 100 TB both conditions go false and callers add no
    exchange."""
    from magshield_data_pipeline_spark.session import conf_bytes

    if changed_file_count(table_path, from_version, to_version) < target:
        return True
    return changed_bytes(table_path, from_version, to_version) < (
        target * conf_bytes(spark, "spark.sql.files.maxPartitionBytes",
                            "128m")
    )


def changed_bytes(table_path: str, from_version: int,
                  to_version: int) -> int:
    """Total data bytes of the files ``read_changes`` would scan
    between two versions — the size half of the spread decision
    (ADVICE r12 low: ``changed_file_count`` alone assumes k files ≈ k
    scan splits, but FilePartition bin-packing can coalesce many
    small-but-not-tiny files into fewer splits; callers should
    repartition when EITHER the file count or the byte volume is under
    the fan-out target).  Entries written before ``bytes`` was
    recorded count 0 — conservative for small-delta decisions."""
    old = {e["path"] for e in read_manifest(table_path, from_version)["files"]}
    return sum(
        e.get("bytes", 0)
        for e in read_manifest(table_path, to_version)["files"]
        if e["path"] not in old
    )


def drop_column(table_path: str, name: str) -> int:
    """DROP a column as a METADATA-ONLY commit — zero files rewritten:
    the manifest schema loses the field and every scan's projection
    simply stops reading it (the bytes stay in old files, invisible).
    The drop is recorded in the table's ``drops`` history so the name
    cannot be silently re-introduced by append's implicit add-column
    evolution — re-adding a dropped name must go through
    ``add_column``, which masks the old files' stale stored bytes with
    the new column's initial default (the resurrection hazard Iceberg
    solves with field IDs; a name-based chain solves it with the
    drop/re-add handshake).  Refusals: the last column; partition
    sources (active spec, any file's recorded spec/value); CHECK
    constraints referencing the name; a pending merge-on-read delete
    keyed on it; open branches (consistency with rename)."""
    m = _base(table_path, "drop_column")[1]
    schema = m.get("schema")
    if schema is None:
        raise ValueError(
            "drop_column: chain has no recorded schema — pre-schema "
            "chains cannot evolve"
        )
    names = [f["name"] for f in schema["fields"]]
    if name not in names:
        raise ValueError(f"drop_column: no column {name!r} in {names}")
    if len(names) == 1:
        raise ValueError("drop_column: cannot drop the last column")
    for d in m.get("delete_files") or []:
        if name in _key_cols(d["key"]):
            raise ValueError(
                f"drop_column: pending merge-on-read delete files are "
                f"keyed on {name!r} — compact()/purge_deletes() first"
            )
    if any(w["col"] == name for w in m.get("widens") or []):
        raise ValueError(
            f"drop_column: {name!r} has type-widening history — a "
            "later re-add would mis-type old files' stored bytes; "
            "compact() first to materialize the widened type"
        )
    if branches(table_path):
        raise ValueError(
            "drop_column: open branches — publish or discard first"
        )
    for cname, cexpr in (m.get("constraints") or {}).items():
        if re.search(rf"\b{re.escape(name)}\b", cexpr):
            raise ValueError(
                f"drop_column: CHECK constraint {cname!r} references "
                f"{name!r} — drop it first"
            )
    sp = m.get("partition_spec")
    if sp and sp.get("source") == name:
        raise ValueError(
            f"drop_column: {name!r} is the active partition-spec "
            "source — clear the spec first"
        )
    for e in m["files"]:
        esp = e.get("partition_spec")
        if (esp and esp.get("source") == name) or (
                e.get("partition") and name in e["partition"]):
            raise ValueError(
                f"drop_column: {name!r} is a partition source of file "
                f"{e['path']!r} — partitioned columns cannot drop "
                "without a rewrite"
            )
    new_schema = {
        **schema,
        "fields": [f for f in schema["fields"] if f["name"] != name],
    }
    return _commit(table_path, {"op": "drop-column", "schema": new_schema,
                                "events": {"drops": {"col": name}}})


def add_column(table_path: str, name: str, dtype: str,
               default=None) -> int:
    """ADD a column as a METADATA-ONLY commit, optionally with an
    INITIAL DEFAULT — the Iceberg initial-default / Delta
    default-value contract: files written BEFORE this commit have no
    such footer column and read back as *default* (not null), while
    files written after carry their genuine values including real
    nulls.  The per-file boundary is the sequence number (the same
    era mapping renames use), so zero data files are rewritten and a
    later rewrite of an old file MATERIALIZES the default at its new
    sequence number.  ``default=None`` is the classic add-column
    (pre-evolution files read null) — the behavior append's implicit
    add-column evolution already gives, here as an explicit command.

    *dtype* is a Spark type name (``long``/``double``/``string``/...)
    as accepted by schema JSON."""
    m = _base(table_path, "add_column")[1]
    schema = m.get("schema")
    if schema is None:
        raise ValueError(
            "add_column: chain has no recorded schema — commit once "
            "with a schema-recording writer first"
        )
    names = [f["name"] for f in schema["fields"]]
    if name in names:
        raise ValueError(f"add_column: {name!r} already exists")
    new_schema = {
        **schema,
        "fields": schema["fields"] + [
            {"name": name, "type": dtype, "nullable": True,
             "metadata": {}}
        ],
    }
    commit = {"op": "add-column", "schema": new_schema}
    was_dropped = any(d["col"] == name for d in m.get("drops") or [])
    if was_dropped:
        commit["meta"] = {
            "drops": [d for d in m["drops"] if d["col"] != name]}
    if default is not None or was_dropped:
        # a re-added dropped name records an event even with no user
        # default: the fill MASKS the old files' stale stored bytes
        commit["events"] = {"defaults": {"col": name, "value": default}}
    return _commit(table_path, commit)


def rename_column(table_path: str, old: str, new: str) -> int:
    """RENAME a column as a METADATA-ONLY commit — zero data files
    rewritten (the Iceberg rename contract: column identity is table
    metadata, not a byte in every file).  The manifest schema carries
    the new name; the rename EVENT (old, new, commit version) is
    appended to the table's rename history, and every scan undoes the
    renames NEWER than a file's sequence number to find the column's
    stored name in that file (``_scan`` era mapping) — so files written
    before and after the rename read back under one current name.

    Stats/bloom sidecars recorded under the old name stop serving
    pruning for pre-rename files (readers keep them conservatively —
    correctness is never at stake, only skip efficiency, and the next
    rewrite of a file re-records under the current name).

    Refusals (all loud, table unchanged): unknown/duplicate names; a
    chain with no recorded schema; PENDING merge-on-read delete files
    (their key column name is frozen at delete time — compact()/
    purge_deletes() first); open BRANCHES (their replay restamps
    sequence numbers, which would mis-date the files against the
    rename — publish or discard first); renaming a column
    that is any file's partition source or the table's active
    partition-spec source (partition values/probes are keyed by
    source name)."""
    m = _base(table_path, "rename_column")[1]
    schema = m.get("schema")
    if schema is None:
        raise ValueError(
            "rename_column: chain has no recorded schema — pre-schema "
            "chains cannot rename (footer inference has no name map)"
        )
    names = [f["name"] for f in schema["fields"]]
    if old not in names:
        raise ValueError(f"rename_column: no column {old!r} in {names}")
    if new in names:
        raise ValueError(f"rename_column: {new!r} already exists")
    if m.get("delete_files"):
        raise ValueError(
            "rename_column: pending merge-on-read delete files are "
            "keyed by the old name — compact()/purge_deletes() first"
        )
    if any(w["col"] == old for w in m.get("widens") or []):
        raise ValueError(
            f"rename_column: {old!r} has type-widening history — the "
            "widen era mapping is keyed by name; compact() first to "
            "materialize the widened type, then rename"
        )
    if branches(table_path):
        raise ValueError(
            "rename_column: open branches replay with fresh sequence "
            "numbers and would mis-date their files against the "
            "rename — publish or discard branches first"
        )
    for cname, cexpr in (m.get("constraints") or {}).items():
        if re.search(rf"\b{re.escape(old)}\b", cexpr):
            raise ValueError(
                f"rename_column: CHECK constraint {cname!r} references "
                f"{old!r} — drop/re-add it under the new name first"
            )
    sp = m.get("partition_spec")
    if sp and sp.get("source") == old:
        raise ValueError(
            f"rename_column: {old!r} is the active partition-spec "
            "source — clear or re-declare the spec first"
        )
    for e in m["files"]:
        esp = e.get("partition_spec")
        if (esp and esp.get("source") == old) or (
                e.get("partition") and old in e["partition"]):
            raise ValueError(
                f"rename_column: {old!r} is a partition source of "
                f"file {e['path']!r} — partitioned columns cannot "
                "rename without a rewrite"
            )
    new_schema = {
        **schema,
        "fields": [
            {**f, "name": new} if f["name"] == old else f
            for f in schema["fields"]
        ],
    }
    # initial defaults follow the column to its new name (they fill by
    # CURRENT name at scan time)
    commit = {"op": "rename-column", "schema": new_schema,
              "events": {"renames": {"old": old, "new": new}}}
    if any(d["col"] == old for d in m.get("defaults") or []):
        commit["meta"] = {"defaults": [
            {**d, "col": new} if d["col"] == old else d
            for d in m["defaults"]
        ]}
    return _commit(table_path, commit)


#: lossless type promotions ``widen_column`` accepts — exactly the
#: Iceberg/Parquet-safe set: every value of the narrower type is
#: representable bit-exactly in the wider one (int→double is NOT here:
#: longs above 2^53 lose precision)
_WIDEN_OK = {
    ("short", "integer"),
    ("short", "long"),
    ("integer", "long"),
    ("float", "double"),
}


def widen_column(table_path: str, name: str, to_type: str) -> int:
    """TYPE WIDENING as a METADATA-ONLY commit — zero data files
    rewritten (the Iceberg v3 type-promotion contract): the manifest
    schema carries the wider type, the widen EVENT (col, from, to,
    commit version) joins the table's widen history, and every scan
    reads each file under the physical type its ERA stored (the
    earliest widen newer than the file's sequence number names it)
    then up-casts engine-side — lossless by construction because only
    the promotions in ``_WIDEN_OK`` are accepted (int→long,
    short→int/long, float→double; int→double is refused: longs above
    2^53 lose precision).

    After the widen, appends must carry the WIDENED type (the
    schema-merge conflict guard still fails loudly on a narrower
    writer — writers cast before appending, the Iceberg
    write-current-schema contract).  ``compact()`` materializes the
    wide type everywhere and retires the widen history, which
    re-enables rename/drop on the column (both refuse while widen
    history is live — the era mapping is keyed by name).

    At 100 TB this is the schema migration that matters: an id column
    outgrowing int32 is one manifest link, not a table rewrite.

    Refusals: unknown column, no recorded schema, non-whitelisted
    promotion, same-type no-op, rename history on the column."""
    m = _base(table_path, "widen_column")[1]
    schema = m.get("schema")
    if schema is None:
        raise ValueError(
            "widen_column: chain has no recorded schema — pre-schema "
            "chains cannot evolve types"
        )
    by_name = {f["name"]: f for f in schema["fields"]}
    if name not in by_name:
        raise ValueError(
            f"widen_column: no column {name!r} in {sorted(by_name)}"
        )
    frm = by_name[name]["type"]
    if frm == to_type:
        raise ValueError(
            f"widen_column: {name!r} is already {to_type!r}"
        )
    if (frm, to_type) not in _WIDEN_OK:
        raise ValueError(
            f"widen_column: {frm!r} -> {to_type!r} is not a lossless "
            f"promotion; allowed: {sorted(_WIDEN_OK)}"
        )
    if any(r["old"] == name or r["new"] == name
           for r in m.get("renames") or []):
        raise ValueError(
            f"widen_column: {name!r} has rename history — the widen "
            "era mapping is keyed by name; compact() first"
        )
    new_schema = {
        "type": "struct",
        "fields": [
            {**f, "type": to_type} if f["name"] == name else f
            for f in schema["fields"]
        ],
    }
    return _commit(table_path, {
        "op": "widen-column", "schema": new_schema,
        "events": {"widens": {"col": name, "from": frm, "to": to_type}},
    })


def table_column_stats(table_path: str, col: str,
                       version: int | None = None) -> dict:
    """Exact ``{rows, min, max}`` for *col* from manifest metadata
    alone — the aggregate-pushdown path (Iceberg answers
    count/min/max scans from manifests; Spark's DSv2 exposes the same
    via SupportsPushDownAggregates): data files are immutable, so the
    per-file bounds recorded at write time stay true, and the table
    extremum is the extremum of the per-file bounds.  Zero data I/O —
    the answer survives the data files being physically unreachable
    (test-pinned).  Refuses pending merge-on-read deletes (a deleted
    row could BE the recorded extremum; ``compact()``/
    ``purge_deletes()`` first) and columns with any stat-less file
    (no recorded bounds — e.g. an all-null file or a pre-stats
    commit — would make the extremum a guess)."""
    v, m = _base(table_path, "table_column_stats", version)
    if m.get("delete_files"):
        raise ValueError(
            "table_column_stats: pending merge-on-read delete files "
            "make manifest bounds unreliable (a deleted row could be "
            "the extremum) — compact()/purge_deletes() first"
        )
    if not m["files"]:
        raise ValueError(
            f"table_column_stats: v{v} at {table_path} lists no files"
        )
    mns, mxs, rows = [], [], 0
    for e in m["files"]:
        rows += e["rows"]
        mn = e.get("stats", {}).get(f"min_{col}")
        mx = e.get("stats", {}).get(f"max_{col}")
        if mn is None or mx is None:
            raise ValueError(
                f"table_column_stats: file {e['path']!r} has no "
                f"recorded bounds for {col!r} — manifest stats cannot "
                "answer exactly; scan instead"
            )
        mns.append(mn)
        mxs.append(mx)
    return {"rows": rows, "min": min(mns), "max": max(mxs)}


# ---------------------------------------------------------------------------
# Named branches: commit CHAINS off main + fast-forward publish (r12) —
# the ledger's write-audit-publish mechanism; a single staged commit is
# a one-commit branch (the Iceberg ``wap.id`` pattern).  A branch is a
# sequence of commits anchored at a base main version, stored OUTSIDE
# the version chain (dot-prefixed manifests `versions()` never sees):
# production readers of main see nothing, `read_branch` audits exactly
# the snapshot `publish_branch` will make, publish graduates the chain
# as ordinary main commits (each appears in history()), and
# `discard_branch` reclaims a failed audit.  An append-only chain
# builds on main's CURRENT latest, so main commits that land
# mid-branch are carried, never lost-updated; a chain holding a
# rewrite (merge/delete) builds on its base and fast-forwards only
# while main still sits there.  The base version is pinned with a
# retention tag so vacuum cannot reclaim the snapshot a rewrite chain
# builds on; branch data files are referenced by the branch manifests
# for `remove_orphans`.

def _branch_base_path(table_path: str, name: str) -> str:
    if not re.fullmatch(r"[A-Za-z0-9._-]+", name):
        raise ValueError(f"branch: unsafe branch name {name!r}")
    return os.path.join(_manifest_dir(table_path), f".branch-{name}.json")


def _branch_commit_path(table_path: str, name: str, k: int) -> str:
    return os.path.join(_manifest_dir(table_path),
                        f".branchc-{name}-v{k}.json")


def create_branch(table_path: str, name: str,
                  from_version: int | None = None) -> int:
    """Create branch *name* anchored at *from_version* (default:
    latest).  The anchor is TAGGED (`branch-base-<name>`) so vacuum
    retains it for the branch's whole life.  Exclusive create — one
    branch per name.  Returns the base version."""
    base = _base(table_path, "create_branch", from_version)[0]
    p = _branch_base_path(table_path, name)
    if os.path.exists(p):
        raise ValueError(
            f"create_branch: branch {name!r} already exists — publish "
            "or discard it first"
        )
    tag(table_path, f"branch-base-{name}", base)
    if not _link_json(p, {
        "base_version": base,
        "created_at": time.time(),
        # the constraint set branch commits validate against; every
        # publish attempt refuses if main's set differs from it
        "constraints": table_constraints(table_path),
    }):
        delete_tag(table_path, f"branch-base-{name}")
        raise ValueError(
            f"create_branch: branch {name!r} already exists (lost the "
            "race)"
        )
    return base


def branches(table_path: str) -> list[str]:
    d = _manifest_dir(table_path)
    if not os.path.isdir(d):
        return []
    out = []
    for fn in os.listdir(d):
        m = re.fullmatch(r"\.branch-([A-Za-z0-9._-]+)\.json", fn)
        if m:
            out.append(m.group(1))
    return sorted(out)


def branch_versions(table_path: str, name: str) -> list[int]:
    """The branch's commit numbers, 1..k (empty for a fresh branch)."""
    if not os.path.exists(_branch_base_path(table_path, name)):
        raise ValueError(f"branch {name!r} not found at {table_path}")
    d = _manifest_dir(table_path)
    out = []
    pat = re.compile(rf"\.branchc-{re.escape(name)}-v(\d+)\.json")
    for fn in os.listdir(d):
        m = pat.fullmatch(fn)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _branch_state(table_path: str, name: str) -> tuple[dict, list[dict]]:
    """(base payload, ordered branch commit payloads); a missing
    branch fails loudly (``branch_versions``)."""
    ks = branch_versions(table_path, name)
    with open(_branch_base_path(table_path, name)) as f:
        base = json.load(f)
    commits = []
    for k in ks:
        with open(_branch_commit_path(table_path, name, k)) as f:
            commits.append(json.load(f))
    return base, commits


def branch_append(df, table_path: str, name: str,
                  n_files: int = 2) -> int:
    """Commit *df* as the branch's next append — invisible to main.
    Validates CHECK constraints against the set recorded at branch
    creation (publish re-checks main hasn't drifted).  Returns the
    branch-local commit number.  Concurrent branch writers race on the
    exclusive commit link; the loser retries at the next number."""
    base, tip = _branch_tip(table_path, name)
    _validate_constraints(df, table_path, base.get("constraints") or {})
    schema = tip.get("schema")
    merged_schema = (
        _merge_schema(schema, df.schema.jsonValue())
        if schema is not None else df.schema.jsonValue()
    )
    entries = _write_data_files(df, table_path, n_files)
    return _branch_commit(table_path, name, {
        "operation": "branch-append",
        "entries": entries,
        "schema": merged_schema,
    })


def _branch_desc(c: dict, parent: dict | None) -> dict:
    """The main-line commit description that publishes branch commit
    *c*: an append adds its entries and evolves the schema by
    add-column (append semantics, so columns main added mid-branch
    stay); a rewrite (merge/delete) recorded its FULL post-state in
    ``files``, so it also drops the files of *parent* — the manifest
    it is published on — that state lacks."""
    desc = {
        "op": c["operation"][len("branch-"):],
        "tags": {"key": c["key"]} if "key" in c else {},
        "add": c["entries"],
        "schema": c.get("schema"),
    }
    if "files" in c:
        live = {e["path"] for e in c["files"]}
        desc["drop"] = {e["path"] for e in parent["files"]} - live
    else:
        desc["evolve"] = True
    return desc


def _branch_tip(table_path: str, name: str) -> tuple[dict, dict]:
    """(base payload, tip manifest): the snapshot publish will make —
    every branch commit built in order onto the manifest publish builds
    on, so branch entries carry the sequence numbers publish stamps
    (newer than pending deletes and rename / default / widen events).
    That manifest is main's current latest for an append-only chain
    (an empty one included), and the base for a chain holding a
    rewrite (the only snapshot publish accepts it on)."""
    base, commits = _branch_state(table_path, name)
    rewrites = any(c["operation"] != "branch-append" for c in commits)
    v, m = _base(table_path, "branch",
                 base["base_version"] if rewrites else None)
    for c in commits:
        v += 1
        m = _build_manifest(m, v, _branch_desc(c, m))
    return base, m


def _rewrite_tip(table_path: str, name: str,
                 who: str) -> tuple[dict, dict]:
    """``_branch_tip`` for a rewrite commit, which records a FULL
    post-state anchored at the base: refused once main has moved past
    the base (publish refuses such a chain — the Iceberg fast-forward
    rule) or while the tip carries pending merge-on-read deletes."""
    base, tip = _branch_tip(table_path, name)
    if versions(table_path)[-1] != base["base_version"]:
        raise ValueError(
            f"{who}: main advanced past the branch base "
            f"v{base['base_version']} — a rewrite commit fast-forwards "
            "only onto an unmoved base; publish or discard, then "
            "re-branch"
        )
    if tip.get("delete_files"):
        raise ValueError(
            f"{who}: the branch base has pending merge-on-read delete "
            "files — compact() main before branching rewrites"
        )
    return base, tip


def read_branch(spark, table_path: str, name: str):
    """Scan the branch tip: the base snapshot's state plus every
    branch commit, read exactly as main will read it once published."""
    return _scan_manifest(spark, table_path, _branch_tip(table_path, name)[1])


def _branch_commit(table_path: str, name: str, payload: dict) -> int:
    """Exclusive-create the branch's next commit manifest (shared by
    append/merge/delete); retries on a lost number race."""
    while True:  # a lost race retries at the next number
        ks = branch_versions(table_path, name)
        k = (ks[-1] if ks else 0) + 1
        if _link_json(_branch_commit_path(table_path, name, k),
                      {**payload, "branch": name, "branch_version": k,
                       "committed_at": time.time()}):
            return k


def branch_merge(source_df, table_path: str, name: str, key,
                 n_files: int = 1) -> int:
    """MERGE INTO the branch tip by *key* — the copy-on-write rewrite
    of :func:`merge` (``_cow_rewrite``), landed as a branch commit
    recording the FULL post-state (so later reads and the publish
    replay it exactly); main sees nothing until publish.  Refused once
    main has moved past the base, or while the base carries pending
    merge-on-read deletes (``_rewrite_tip``).  Returns the branch
    commit number."""
    base, tip = _rewrite_tip(table_path, name, "branch_merge")
    schema_json = tip.get("schema")
    if schema_json is not None:
        # column guard BEFORE constraint validation: a constraint
        # expression may reference a column the malformed source lacks
        table_cols = [f["name"] for f in schema_json["fields"]]
        missing = [c for c in table_cols if c not in source_df.columns]
        extra = [c for c in source_df.columns if c not in table_cols]
        if missing or extra:
            raise ValueError(
                f"branch_merge: source columns must equal the branch "
                f"schema (missing {missing}, extra {extra}) — evolve "
                "with branch_append first"
            )
        _merge_schema(schema_json, source_df.schema.jsonValue())
    _validate_constraints(source_df, table_path,
                          base.get("constraints") or {})
    entries, drop, _kbounds = _cow_rewrite(
        source_df.select(*_key_cols(key)), table_path, tip,
        "branch_merge: source has no rows", n_files, upsert=source_df)
    return _branch_commit(table_path, name, {
        "operation": "branch-merge",
        "key": _key_store(key),
        "entries": entries,
        "files": [e for e in tip["files"] if e["path"] not in drop]
        + entries,
        "schema": (schema_json if schema_json is not None
                   else source_df.schema.jsonValue()),
    })


def branch_delete_rows(keys_df, table_path: str, name: str, key,
                       n_files: int = 1) -> int:
    """Row-level DELETE on the branch tip by *key* (the copy-on-write
    rewrite of :func:`delete`, full post-state recorded) — main sees
    nothing until publish; refused as :func:`branch_merge` is.
    Returns the branch commit number."""
    tip = _rewrite_tip(table_path, name, "branch_delete_rows")[1]
    entries, drop, _kbounds = _cow_rewrite(
        keys_df.select(*_key_cols(key)).distinct(), table_path, tip,
        "branch_delete_rows: keys_df has no rows", n_files)
    payload = {
        "operation": "branch-delete",
        "key": _key_store(key),
        "entries": entries,
        "files": [e for e in tip["files"] if e["path"] not in drop]
        + entries,
    }
    if tip.get("schema") is not None:
        payload["schema"] = tip["schema"]
    return _branch_commit(table_path, name, payload)


def publish_branch(table_path: str, name: str) -> list[int]:
    """FAST-FORWARD main over the branch: each branch commit graduates
    as a main commit IN ORDER (so history() shows the chain), built on
    the manifest ``read_branch`` builds on.  An append-only chain
    re-resolves against the current latest, so it composes with any
    main commits that landed mid-branch; a chain holding REWRITE
    commits (branch_merge / branch_delete_rows) recorded full
    post-states anchored at the base, so it publishes only while main
    still sits at the base — the Iceberg fast-forward rule — and
    refuses loudly otherwise.  Every commit attempt refuses if main's
    constraint set differs from the one the branch validated against
    (the branch rows cannot be revalidated cheaply — re-branch).
    Atomic claim via base-file rename — one publisher wins; a publish
    that fails before its first commit restores the branch intact (a
    mid-chain failure leaves the published prefix on main and the
    unpublished remainder on the branch, now only discardable).
    Returns the main versions created, in branch order."""
    p = _branch_base_path(table_path, name)
    claimed = p + f".publishing-{uuid.uuid4().hex}"
    try:
        os.rename(p, claimed)
    except FileNotFoundError:
        raise ValueError(
            f"publish_branch: no branch {name!r} at {table_path} "
            "(already published or discarded?)"
        ) from None
    try:
        with open(claimed) as f:
            base = json.load(f)
        validated = base.get("constraints") or {}

        def _refuse_drift(_pv, parent) -> bool:
            # the TOCTOU close, checked on every attempt: a constraint
            # landing mid-publish would graduate unvalidated rows
            if ((parent or {}).get("constraints") or {}) != validated:
                raise ValueError(
                    f"publish_branch: table constraints changed since "
                    f"branch {name!r} was created — discard and "
                    "re-branch under the current constraint set"
                )
            return False

        d = _manifest_dir(table_path)
        pat = re.compile(rf"\.branchc-{re.escape(name)}-v(\d+)\.json")
        ks = sorted(int(m.group(1)) for fn in os.listdir(d)
                    for m in [pat.fullmatch(fn)] if m)
        commits = []
        for k in ks:
            with open(_branch_commit_path(table_path, name, k)) as f:
                commits.append((k, json.load(f)))
        appends_only = all(
            c.get("operation") == "branch-append" for _k, c in commits
        )
        if not appends_only and versions(table_path)[-1] != \
                base["base_version"]:
            raise ValueError(
                f"publish_branch: main advanced past the branch base "
                f"v{base['base_version']} and branch {name!r} holds "
                "rewrite commits (merge/delete) — fast-forward "
                "requires an unmoved base; discard and re-branch"
            )
        published = []
        for k, c in commits:
            # a rewrite chain replays on exactly the current main tip:
            # a concurrent commit fails the exclusive link loudly and
            # the except handler restores the branch (no torn publish:
            # the first link is also the first side effect)
            tip = None if appends_only else _latest(table_path)
            published.append(_commit(
                table_path, _branch_desc(c, tip[1] if tip else None),
                who="publish_branch", base=tip, check=_refuse_drift,
                discard=False,
            ))
            os.unlink(_branch_commit_path(table_path, name, k))
    except BaseException:
        os.rename(claimed, p)  # publish failed: the branch survives
        raise
    os.unlink(claimed)
    delete_tag(table_path, f"branch-base-{name}")
    return published


def discard_branch(table_path: str, name: str) -> None:
    """Drop the branch: remove its manifests, reclaim its data files
    (never referenced by any main version), release the base pin."""
    base, commits = _branch_state(table_path, name)
    for k in branch_versions(table_path, name):
        os.unlink(_branch_commit_path(table_path, name, k))
    os.remove(_branch_base_path(table_path, name))
    delete_tag(table_path, f"branch-base-{name}")
    for c in commits:
        _discard_commit_dirs(table_path, c["entries"])


# ---------------------------------------------------------------------------
# Cross-table commit groups: atomic-outcome multi-table publish (r12 —
# the residual of VERDICT r11 item 4: a curation epoch commits
# curated + fp-index + LSH-index as separate transactions, and a crash
# between them left a torn epoch that only CONVERGED on replay.  A
# commit group makes the multi-table publish atomic BY RECOVERY
# (Percolator-style roll-forward): members stage their commits on
# branches, a durable journal records the intent, the group publishes
# member-by-member, and any crash mid-publish is rolled FORWARD by
# recover_commit_groups() — the group's outcome is all-or-all, never
# torn.  Without a shared catalog pointer there is no cross-table
# snapshot isolation DURING the publish (a reader may see member A's
# new version while B is still publishing — honest limit, documented);
# the consistent CUT is addressed afterwards via the per-table tag
# `txn-<group>` stamped at each member's published version.

def _txn_group_dir(group_root: str) -> str:
    return os.path.join(group_root, "_txn_groups")


def publish_commit_group(group_root: str,
                         members: list[tuple[str, str]],
                         group_id: str | None = None) -> dict:
    """Publish every member ``(table_path, branch_name)`` as one
    atomic-outcome group: a journal lands first (the intent is
    durable), then each member's branch fast-forwards main via
    :func:`publish_branch` and the member's published tip is tagged
    ``txn-<group_id>`` (the consistent cut).  The journal is removed
    only after every member published — a crash at ANY point is
    completed by :func:`recover_commit_groups`, so the group can never
    end torn.  Returns ``{table_path: [published versions]}``."""
    gid = group_id or uuid.uuid4().hex[:12]
    if not re.fullmatch(r"[A-Za-z0-9._-]+", gid):
        raise ValueError(f"publish_commit_group: unsafe group id {gid!r}")
    for table, branch in members:
        if not os.path.exists(_branch_base_path(table, branch)):
            raise ValueError(
                f"publish_commit_group: member branch {branch!r} not "
                f"found at {table} — stage every member first"
            )
    d = _txn_group_dir(group_root)
    os.makedirs(d, exist_ok=True)
    if not _link_json(os.path.join(d, f"group-{gid}.json"), {
        "group_id": gid,
        "created_at": time.time(),
        "members": [[t, b] for t, b in members],
    }):
        raise ValueError(
            f"publish_commit_group: group {gid!r} already exists"
        )
    return _complete_group(group_root, gid)


def _complete_group(group_root: str, gid: str) -> dict:
    """Roll the group FORWARD: publish every member whose branch still
    exists (an absent branch with the journal present means that
    member already published — publish_branch consumes the branch
    atomically), stamp the cut tag, then retire the journal."""
    p = os.path.join(_txn_group_dir(group_root), f"group-{gid}.json")
    with open(p) as f:
        journal = json.load(f)
    out: dict = {}
    for table, branch in journal["members"]:
        if os.path.exists(_branch_base_path(table, branch)):
            out[table] = publish_branch(table, branch)
        else:
            out[table] = []  # already graduated before the crash
        tag_name = f"txn-{gid}"
        if tag_name not in tags(table):
            tag(table, tag_name)  # the consistent cut, idempotent
    os.remove(p)
    return out


def pending_commit_groups(group_root: str) -> list[str]:
    d = _txn_group_dir(group_root)
    if not os.path.isdir(d):
        return []
    return sorted(
        fn[len("group-"):-len(".json")]
        for fn in os.listdir(d)
        if fn.startswith("group-") and fn.endswith(".json")
        and ".tmp-" not in fn
    )


def recover_commit_groups(group_root: str) -> dict[str, dict]:
    """Complete every pending group journal — run at process start or
    before any new group op (the roll-forward half of the contract: a
    journal present means the group MUST finish).  Returns
    ``{group_id: {table: [published versions]}}``."""
    return {
        gid: _complete_group(group_root, gid)
        for gid in pending_commit_groups(group_root)
    }
