"""Query registry: every operator from SURVEY §2 as a (Spark plan, DuckDB
oracle SQL) pair over the driver's test tables.

Each entry is the idiomatic-Spark restatement of one reference operator
pattern, expressed on the TPC-H-ish star schema (FIXTURES.md §A role
mapping: orders/lineitem = fact with fan-out; customer/supplier/nation/
region/part = broadcast dims; documents/embeddings/events = the [EXT]
scale-tier fixtures).

Conventions that keep the driver's order-insensitive value-hash stable:
- every computed column is aliased identically in Spark and SQL;
- double aggregates are wrapped in ``round(..., 2..6)`` — the source money
  columns carry exactly 2 decimals, so real sums are exact multiples of
  0.01/0.0001 and rounding absorbs summation-order noise;
- timestamps that reach the output are formatted to strings;
- every top-k / limit has a total-order tiebreak.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    """One oracle-checked query: Spark plan + equivalent DuckDB SQL.

    ``sql=None`` marks a genuinely non-SQL-expressible operator (custom
    stateful streaming, LSH pipelines); the driver then records a weaker
    rows-only check.
    """

    fn: QueryFn
    sql: Optional[str]
    description: str = ""


QUERY_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, sql: Optional[str], description: str = ""):
    """Decorator: add a query to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERY_REGISTRY[name] = QuerySpec(fn=fn, sql=sql, description=description)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in QUERY_REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.sql for name, spec in QUERY_REGISTRY.items() if spec.sql is not None
    }


def driver_history() -> dict[str, dict[int, bool]]:
    """{query: {round: green?}} from every CORRECTNESS_r*.json at repo
    root (the artifacts the external driver writes per round).  Shared
    with tests/test_registry_window.py so the window computation and
    its enforcement can never diverge on artifact parsing."""
    import glob
    import json
    import os
    import re

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    hist: dict[str, dict[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue  # a torn/partial artifact must not break imports
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = bool(
                row.get("rows_match")
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
                and not row.get("err")
            )
            hist.setdefault(name, {})[rnd] = green
    return hist


# importing the plan modules populates the registry
from magshield_data_pipeline_spark.plans import reference_queries  # noqa: E402,F401
from magshield_data_pipeline_spark.plans import ext_queries  # noqa: E402,F401
from magshield_data_pipeline_spark.plans import nested_queries  # noqa: E402,F401
from magshield_data_pipeline_spark.plans import window_queries  # noqa: E402,F401
from magshield_data_pipeline_spark.plans import temporal_queries  # noqa: E402,F401
from magshield_data_pipeline_spark.plans import analytics_queries  # noqa: E402,F401
from magshield_data_pipeline_spark.plans import export_queries  # noqa: E402,F401
from magshield_data_pipeline_spark.plans import curation_queries  # noqa: E402,F401
from magshield_data_pipeline_spark.plans import modern_queries  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Driver-window rotation — SELF-ROTATING since round 7.
#
# The external correctness driver checks the FIRST 50 registry entries in
# insertion order, so registration order IS the verification window.  Every
# query stays guarded by the local oracle-parity suite
# (tests/test_oracle_parity.py runs all of them against DuckDB at sf0.001);
# the window chooses which 50 get the driver's hard signal this round.
# Rotation policy, auditable in COVERAGE.md:
#   1. queries whose source was TOUCHED this round get re-checked even if
#      recently green (the only judgment call — expressed as PINS below);
#   2. queries whose last driver verdict is failing;
#   3. queries with NO driver row in any round (every new query starts
#      here, so additions need no pin);
#   4. then oldest-last-green queries (every green verdict ages one round
#      per rotation — cycle them back before the evidence gets stale);
#   5. the freshest-green remainder rotates out until the above are proven.
#
# Through round 6 the list was hand-rotated each round and the freshness
# test went red the moment the driver wrote the new artifact (VERDICT
# r5/r6 item 1, both rounds).  The window is now COMPUTED from the
# CORRECTNESS_r*.json artifacts at import time: when a new artifact
# lands, the next import rotates automatically — tiers 2–5 need no
# maintenance, and tests/test_registry_window.py keeps enforcing the
# invariants (never-checked/last-failing in-window; no green ages ≥2
# rounds outside) against whatever the computation produces.  The
# round-7 computed window was verified identical (as a set) to the
# hand-rotated one it replaced: the 5 r7-touched pins + the 11 r7-new +
# the 34 r4-stale greens = exactly 50.
# ---------------------------------------------------------------------------

_WINDOW_SIZE = 50

# (query, round) pins: re-prove a query whose SOURCE this round's work
# changed, even though its last verdict is green.  Self-expiring: a pin
# holds a window slot only until the driver proves the query green in a
# round ≥ the pin's round, then it is mechanically inert and can be
# pruned at leisure.
#
# PIN-ROUND RULE (ADVICE r7): a pin's round must be the round of the
# NEXT artifact that could possibly cover the change — i.e. if the
# change lands while round N's artifact already exists, pin at N+1,
# never N.  Pinning at N is only accidentally sound when the driver
# happens to run after the change; had it run before, the pin would
# self-expire against a pre-change green and the changed source would
# never be driver re-proven.  (All 14 round-7 pins were verified
# covered — CORRECTNESS_r07 records every pinned query green and the
# driver ran after the late-r7 commits — and are pruned as inert.)
#
# (All five round-8 pins were proven green by CORRECTNESS_r08 —
# last_green == pin_round made each mechanically inert — and are
# pruned per the codified rule above.)
#
# (All ten round-9 pins were proven green by CORRECTNESS_r09 —
# last_green == pin_round made each mechanically inert — and are
# pruned per the codified rule above.)
#
# (All eight round-10 pins were proven green by CORRECTNESS_r10 —
# last_green == pin_round made each mechanically inert — and are
# pruned per the codified rule above.)
#
# Round-11 pins (changes made with the r10 artifact on disk → pinned
# 11): the six snapshot-table queries after sources/snapshots.py's
# r11 rework (row-level delete with app-txns, row-level CDC,
# committed_at timestamps in every manifest, integer-exact stats,
# merge's extra-column guard + schema-publish change); the three
# curation-loop queries that ride on the ledger (epoch/epoch2 through
# read_changes + append_stream_batch, model refresh additionally
# refactored to share model_refresh_tables with the new retraction
# epoch).
_WINDOW_PINS: list[tuple[str, int]] = [
    # (All nine round-11 pins were proven green by CORRECTNESS_r11 —
    # last_green == pin_round made each mechanically inert — and are
    # pruned per the codified rule above.)
    #
    # Round-12 pins (changes made with the r11 artifact on disk →
    # pinned 12): cdc_stream.py was rewritten around the unified
    # visible-state diff (MOR support, metadata-only commits, typed
    # partition restore), read_row_changes gained delete-aware images
    # for key-less/overwrite commits and rollback manifests stopped
    # carrying key/mode, ivm.apply_changes moved to the atomic
    # zero-merge + committed-state retract, and the write-audit-publish
    # publish gained the constraint-drift refusal.  The ivm view/stream
    # queries pin the new commit accounting; row_cdc/cdc_apply pin the
    # batch feed after its image rework; table_mgmt pins rollback's
    # slimmed manifests (wap_audit and branch_rewrite re-pinned at 14
    # below).
    # session-3 r12 additions: _publish_manifest gained the carried
    # active-partition-spec key and append/overwrite the CURRENT_SPEC
    # resolution — pin the transform-prune neighbor (the new
    # snapshot_partition_evolution query enters via tier 3 untouched).
    ("snapshot_hidden_partition", 12),
    # session-3 wave 3: _scan gained the rename era mapping (every read
    # path re-planned), branch scans thread base renames, merge/delete/
    # stream-append write under the active spec — pin the read-path and
    # branch-scan neighbors (the new rename/purge/recluster/agg queries
    # enter via tier 3)
    ("snapshot_time_travel", 12),
    ("snapshot_schema_evolution", 12),
    ("snapshot_stream_append", 12),
    # session-3: merge/delete/optimize manifests now carry table
    # metadata via _carry_table_meta (spec evolution) — pin one query
    # per rewritten commit path (purge/scd2/evolution enter via tier 3)
    ("snapshot_merge_upsert", 12),
    ("snapshot_mor_delete", 12),
    ("snapshot_maintenance_plan", 12),
    # (snapshot_cdc_stream's r12 pin PRUNED in session 5: the window
    # holds exactly 50 and tiers 1+3 reached 51 when the six session-5
    # queries entered; cdc_stream.py's touched surface is re-proven
    # this round by two MANDATORY tier-3 entries exercising the same
    # reader — snapshot_cdc_stream_evolve (new, era mapping) and
    # snapshot_cdc_stream_mor — plus the all-registry local parity
    # suite; the least marginal slot.)
    ("snapshot_ivm_view", 12),
    ("snapshot_ivm_stream", 12),
    ("snapshot_row_cdc", 12),
    ("snapshot_cdc_apply", 12),
    ("snapshot_table_mgmt", 12),
    # session-4 r12 additions (r11 artifact still the latest → pin 12):
    # _scan gained widen-era types + (file,pos) coordinates,
    # _scan_with_deletes the positional-delete kind split, merge/delete
    # moved to _publish_optimistic (snapshot-isolation rebase),
    # purge_deletes/_delete_may_hit went kind-aware, compact retires
    # widen history, drop/rename gained widen guards, and the stream
    # classifier's _may_hit/_visible_rows handle positional deletes
    # with op=update tag mapping.  The five new queries
    # (concurrent_merge/positional_delete/runtime_prune/type_widening/
    # update_where) enter via tier 3; these pin the touched NEIGHBORS.
    ("snapshot_mor_purge", 12),
    ("snapshot_cdc_stream_mor", 12),
    ("snapshot_scd2_stream", 12),
    ("snapshot_auto_maintain", 12),
    ("snapshot_drop_column", 12),
    ("snapshot_column_rename", 12),
    ("snapshot_bloom_prune", 12),
    # Round-14 pins (changes made with the r13 artifact on disk →
    # pinned 14): the staged-commit path was deleted and write-audit-
    # publish is now a one-commit branch — snapshot_wap_audit runs over
    # the branch API; read_branch of an append-only chain builds on the
    # current latest, and publish_branch became one loop of _commit
    # calls re-checking constraint drift on every attempt — pin every
    # query that publishes a branch (txn_group through
    # publish_commit_group's recovery).
    ("snapshot_wap_audit", 14),
    ("snapshot_branch_publish", 14),
    ("snapshot_branch_rewrite", 14),
    ("snapshot_txn_group", 14),
]


def _compute_driver_window(
    registry: dict[str, QuerySpec],
    pins: list[tuple[str, int]],
    size: int = _WINDOW_SIZE,
) -> list[str]:
    hist = driver_history()
    names = list(registry)

    def last_green(n: str) -> int:
        return max((r for r, g in hist.get(n, {}).items() if g), default=0)

    window: list[str] = []

    def take(n: str) -> None:
        if n not in window:
            window.append(n)

    # tier 1: active pins (source touched; not yet re-proven green)
    for n, pin_round in pins:
        if n in registry and last_green(n) < pin_round:
            take(n)
    # tier 2: latest driver verdict is a failure
    for n in sorted(names):
        rounds = hist.get(n)
        if rounds and not rounds[max(rounds)]:
            take(n)
    # tier 3: never driver-checked (covers every newly added query)
    for n in sorted(names):
        if n not in hist:
            take(n)
    # tiers 4-5: greens, stalest last-green first (name tie-break);
    # freshest greens rotate out when the window is full
    for n in sorted(names, key=lambda n: (last_green(n), n)):
        if len(window) >= size:
            break
        take(n)
    # tiers 1-3 exceeding `size` means the registry has outgrown the
    # driver's verification capacity; truncate and let the window
    # invariant tests fail loudly rather than hiding the overflow
    return window[:size]


_DRIVER_WINDOW_PRIORITY: list[str] = _compute_driver_window(
    QUERY_REGISTRY, _WINDOW_PINS
)

QUERY_REGISTRY = {
    **{n: QUERY_REGISTRY[n] for n in _DRIVER_WINDOW_PRIORITY},
    **{n: s for n, s in QUERY_REGISTRY.items() if n not in _DRIVER_WINDOW_PRIORITY},
}
