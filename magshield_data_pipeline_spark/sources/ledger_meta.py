"""The metadata-only half of the snapshot ledger's change feed, shared
by the batch feed (``snapshots.read_row_changes``) and the streaming
reader (``cdc_stream``):

- manifest access: :func:`versions`, :func:`read_manifest` (segment
  references resolved) and :func:`feed_manifest` (a missing manifest
  is a vacuumed version, raised loudly);
- the key and delete rules: :func:`_key_cols`, :func:`delete_applies`
  (which delete files apply to a data file) and :func:`delete_index`
  (the same rule over one delete set, positional targets indexed
  once);
- :func:`commit_plan`: what one commit changed, decided from its
  manifest and its predecessor's alone.

Nothing here reads a data file or touches Spark, and the module imports
only the standard library: ``cdc_stream.register`` ships it by value
to Python workers that do not have the package on ``sys.path``.
"""

from __future__ import annotations

import json
import os
import re

_MANIFEST_RE = re.compile(r"^v(\d+)\.json$")


def _manifest_dir(table_path: str) -> str:
    return os.path.join(table_path, "_manifests")


def versions(table_path: str) -> list[int]:
    """All committed versions, ascending. A manifest file EXISTS iff
    its commit completed (exclusive-create publish), so this listing
    never sees a partial commit."""
    d = _manifest_dir(table_path)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        m = _MANIFEST_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _raw_manifest(table_path: str, version: int) -> dict:
    """The manifest EXACTLY as stored — ``segments`` references left
    unresolved.  Internal: vacuum's reference counting and the
    metadata-cost audit need the physical shape; everything else wants
    :func:`read_manifest`."""
    with open(os.path.join(_manifest_dir(table_path), f"v{version}.json")) as f:
        return json.load(f)


def _resolve_segments(mdir: str, m: dict) -> dict:
    """Materialize a raw manifest's file list: segment references (in
    order) followed by the inline tail.  Mutates and returns *m*; the
    resolved dict carries no ``segments`` key, so re-publishing a
    loaded manifest (rollback) re-segments cleanly."""
    segs = m.pop("segments", None)
    if segs:
        files: list[dict] = []
        for s in segs:
            p = os.path.join(mdir, s)
            if not os.path.exists(p):
                raise ValueError(
                    f"manifest segment {s} missing under {mdir} — "
                    "reclaimed past this version's retention; read a "
                    "retained version"
                )
            with open(p) as f:
                files.extend(json.load(f)["entries"])
        m["files"] = files + (m.get("files") or [])
    return m


def read_manifest(table_path: str, version: int) -> dict:
    return _resolve_segments(_manifest_dir(table_path),
                             _raw_manifest(table_path, version))


def feed_manifest(table_path: str, version: int, who: str) -> dict:
    """:func:`read_manifest` for a change feed: a missing manifest means
    the version was vacuumed, and the feed fails loudly instead of
    skipping the commits it can no longer diff."""
    p = os.path.join(_manifest_dir(table_path), f"v{version}.json")
    if not os.path.exists(p):
        raise ValueError(
            f"{who}: v{version} vacuumed at {table_path} — the change "
            "feed needs it; restart from (or read from) a retained "
            "version"
        )
    return read_manifest(table_path, version)


def _key_cols(key) -> list[str]:
    """Normalize a merge/delete key spec — one column name or a
    COMPOSITE list of them (r12: the natural-key contract; Iceberg's
    equality-delete field lists) — to a non-empty, duplicate-free
    column list."""
    cols = [key] if isinstance(key, str) else list(key)
    if not cols or len(set(cols)) != len(cols) or not all(
            isinstance(c, str) and c for c in cols):
        raise ValueError(
            f"key must be a column name or a list of distinct column "
            f"names, got {key!r}"
        )
    return cols


def delete_applies(e: dict, d: dict) -> bool:
    """Can delete file *d* hide rows of data entry *e*?

    - a POSITIONAL delete (``kind: "positional"``) addresses exact
      files: its ``targets`` list IS the affected set;
    - an EQUALITY delete applies only to data with a LOWER sequence
      number (Iceberg v2 — a re-insert after the delete survives), and
      only where the key ranges intersect; a side without stats on a
      key column cannot be ruled out (conservative: pruning shrinks
      the set of files a reader reconciles, never the answer)."""
    if d.get("kind") == "positional":
        return e["path"] in (d.get("targets") or ())
    if d.get("seq", 0) <= e.get("seq", 0):
        return False
    for k in _key_cols(d["key"]):
        mn = e.get("stats", {}).get(f"min_{k}")
        mx = e.get("stats", {}).get(f"max_{k}")
        dlo = d.get("stats", {}).get(f"min_{k}")
        dhi = d.get("stats", {}).get(f"max_{k}")
        if mn is None or mx is None or dlo is None or dhi is None:
            continue  # no stats on this column: can't rule it out
        if mn > dhi or mx < dlo:
            return False  # disjoint on ANY key column: no hit possible
    return True


def delete_index(delete_files: list[dict]):
    """Index one delete set for :func:`delete_applies`: returns
    ``applying(e)``, the delete files that can hide rows of data entry
    *e*, in order.  Each positional delete's ``targets`` becomes one
    frozenset per delete file here, so checking every data file
    against a delete that targets N of them costs O(N), not O(N^2)."""
    index = [(d, frozenset(d.get("targets") or ())
              if d.get("kind") == "positional" else None)
             for d in delete_files]

    def applying(e: dict) -> list[dict]:
        return [d for d, targets in index
                if (e["path"] in targets if targets is not None
                    else delete_applies(e, d))]

    return applying


def commit_plan(table_path: str, v: int, who: str) -> dict:
    """What commit *v* changed, from its manifest and its
    predecessor's alone.  The plan's ``kind`` is one of:

    - ``skip``: nothing visible can have changed — a compact (same
      rows, new layout, by contract), a metadata-only commit, or new
      delete files whose key ranges hit no data file;
    - ``inserts``: an append with an unchanged delete set — its new
      files carry this commit's sequence number, so no pending delete
      applies and ``after`` (the added files) are pure inserts;
    - ``diff``: the visible rows of ``before`` (prev-side files under
      prev's delete set) against those of ``after`` (cur-side files
      under cur's): the removed and added files, plus every carried
      file whose applicable delete set changed (a new delete file that
      hits it, or a dropped one — an undelete).

    Cost is the manifests, never the data: each side's file list is
    indexed once by path.  The plan also carries ``op``, ``key`` (the
    commit's recorded merge/delete key, or None) and the two manifests
    ``prev`` / ``cur`` (schema and delete files for the images)."""
    cur = feed_manifest(table_path, v, who)
    prev = feed_manifest(table_path, v - 1, who)
    plan = {"op": cur.get("operation"), "key": cur.get("key"),
            "prev": prev, "cur": cur, "before": [], "after": []}
    if plan["op"] == "compact":
        return {**plan, "kind": "skip"}
    prev_by = {e["path"]: e for e in prev["files"]}
    cur_by = {e["path"]: e for e in cur["files"]}
    prev_dels = prev.get("delete_files") or []
    cur_dels = cur.get("delete_files") or []
    prev_del_paths = {d["path"] for d in prev_dels}
    cur_del_paths = {d["path"] for d in cur_dels}
    new_dels = [d for d in cur_dels if d["path"] not in prev_del_paths]
    gone_dels = [d for d in prev_dels if d["path"] not in cur_del_paths]
    added = [e for p, e in cur_by.items() if p not in prev_by]
    removed = [e for p, e in prev_by.items() if p not in cur_by]
    if (plan["op"] in ("append", "stream-append") and added
            and not removed and not new_dels and not gone_dels):
        return {**plan, "kind": "inserts", "after": added}
    before, after = removed, added
    if new_dels or gone_dels:
        hit_new, hit_gone = delete_index(new_dels), delete_index(gone_dels)
        for p, e_cur in cur_by.items():
            e_prev = prev_by.get(p)
            if e_prev is not None and (hit_new(e_cur) or hit_gone(e_prev)):
                before.append(e_prev)
                after.append(e_cur)
    return {**plan, "kind": "diff" if before or after else "skip",
            "before": before, "after": after}
