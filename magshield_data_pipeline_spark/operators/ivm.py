"""Incremental materialized-view maintenance over the snapshot ledger.

A materialized aggregate view — ``SELECT g, count(*), sum(m1), ... FROM
source GROUP BY g`` — kept fresh by consuming the source table's
row-level change feed (``sources.snapshots.read_row_changes``) instead
of recomputing the group-by from scratch.  This is the canonical
*subscriber* for the CDC feed: the feed's cost contract (each commit
delivers only its touched files' net row changes, maintenance compacts
deliver nothing) only pays off if the downstream refresh is likewise
proportional to the change, and for SUM/COUNT-additive aggregates it
is — classic incremental view maintenance (Griffin & Libkin, "Incremental
Maintenance of Views with Duplicates", SIGMOD '95): every change row
carries a sign (+1 for ``insert``/``update_postimage``, −1 for
``delete``/``update_preimage``), the signed per-group delta folds into
the stored per-group state, and groups whose row count reaches zero are
retracted from the view.

Scale shape at 100 TB:

- **refresh cost = O(commit's touched files) + O(affected groups)** —
  the feed scan is the commit's before/after images only, the fold is
  one small groupBy over those rows, and the ledger MERGE into the
  view rewrites only view files whose group range intersects the
  affected groups (manifest min/max stats; cluster the view on the
  group key to make that pruning sharp).  A compact on the source is
  free: the feed is empty by contract and the refresh commits nothing.
- **exactly-once** — the view merge and the zero-group delete each
  commit under an application transaction keyed to the source version
  consumed (the Delta txnAppId/txnVersion contract, durable across
  vacuum), so a replayed or crash-resumed refresh converges to the
  same view state instead of double-applying the delta.  The replay
  path is total: if the merge already landed but the delete did not,
  re-running the refresh no-ops the merge and completes the delete.

Reference analog: the reference recomputes every export from a full
re-extract per trigger (callable.py:118-156); this is the incremental
shape that replaces recompute-the-world once the corpus is a ledger
table receiving appends, corrections, and retractions.

Only SUM/COUNT-additive measures are supported by construction: every
measure expression is maintained as ``SUM(expr)``.  MIN/MAX have no
additive inverse under deletes (retracting the current extremum needs
auxiliary per-group state) and are deliberately out of the API's reach.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from magshield_data_pipeline_spark.sources import snapshots as SN

#: column holding the maintained per-group row count (doubles as the
#: group-liveness counter: a group retracts when it reaches zero).
COUNT_COL = "n_rows"

_POS_CHANGES = ("insert", "update_postimage")


def _measure_cols(measures: dict) -> list[str]:
    bad = [k for k in measures if k == COUNT_COL]
    if bad:
        raise ValueError(f"measure name {COUNT_COL!r} is reserved")
    return list(measures)


def init_agg_view(
    spark: SparkSession,
    source_path: str,
    view_path: str,
    group: Column,
    group_name: str,
    measures: dict,
    *,
    version: int | None = None,
    n_files: int = 1,
) -> int:
    """Materialize the view from scratch at *version* (default: the
    source's latest snapshot) and commit it as version 1 of
    *view_path*, range-clustered on the group key so later refresh
    MERGEs stats-prune to the affected group range.  *measures* maps
    output column name -> SUM-additive Column expression over source
    rows (evaluated identically here and on feed rows in
    :func:`refresh_agg_view`).  Returns the view's committed version.
    """
    src = SN.read(spark, source_path, version)
    agg = src.groupBy(group.alias(group_name)).agg(
        F.count(F.lit(1)).alias(COUNT_COL),
        *[F.sum(expr).alias(name) for name, expr in measures.items()],
    )
    v = SN.overwrite(agg, view_path, n_files=n_files)
    if n_files > 1:
        # disjoint group ranges per file = the pruning index refreshes
        # rely on; a single-file view is trivially "clustered" already
        v = SN.compact(spark, view_path, n_files=n_files,
                       cluster_by=[group_name])
    return v


def refresh_agg_view(
    spark: SparkSession,
    source_path: str,
    view_path: str,
    group: Column,
    group_name: str,
    measures: dict,
    *,
    from_version: int,
    to_version: int,
    app: str = "ivm",
    n_files: int = 1,
) -> dict:
    """Fold the source's row changes in ``(from_version, to_version]``
    into the maintained view.  Returns a summary dict::

        {"applied": bool,          # False when the feed was empty or
                                   #   the refresh had already committed
         "groups_upserted": int,   # live groups merged into the view
         "groups_deleted": int}    # groups retracted at count zero

    Exactly-once: the merge commits under ``(app + ":m", to_version)``
    and the retract under ``(app + ":d", to_version)`` — replays of
    either are durable no-ops, and because the fold routes every write
    through those two transactional commits, a crash between them
    resumes correctly (the recomputed fold may differ against the
    half-updated view, but the already-committed half refuses to
    re-apply).
    """
    ch = SN.read_row_changes(spark, source_path, from_version, to_version)
    return apply_changes(
        spark, view_path, ch, group, group_name, measures,
        txn_version=to_version, app=app, n_files=n_files,
    )


def apply_changes(
    spark: SparkSession,
    view_path: str,
    changes: DataFrame,
    group: Column,
    group_name: str,
    measures: dict,
    *,
    txn_version: int,
    app: str = "ivm",
    n_files: int = 1,
) -> dict:
    """Fold an arbitrary frame of CDC rows (``_change_type`` +-signed,
    e.g. one ``ledger_cdc`` micro-batch inside ``foreachBatch``) into
    the maintained view — the streaming entry point.  *txn_version*
    must be monotone per *app* (a stream passes its batch id; the
    batch path passes the source version consumed).  Same return
    shape and exactly-once contract as :func:`refresh_agg_view`.

    Replay safety (ADVICE r11 high — a redelivered batch folded the
    delta into the ALREADY-merged view, so the recomputed dead set
    could retract a live group): the fold is applied in two commits
    whose inputs make replays total —

    1. the MERGE upserts every affected group INCLUDING groups whose
       folded count reached zero (zeroed in place; groups born and
       killed within one batch never touch the view).  A replay
       no-ops on the txn marker, so the untrustworthy re-fold is
       never applied.
    2. the RETRACT deletes groups whose count **in the view itself**
       is zero, restricted to this batch's affected groups — derived
       from committed state, not from the re-fold, so it finds
       exactly the zeros step 1 wrote: on a clean replay there are
       none (no-op), after a crash between the commits the leftover
       zeros are completed.  A view scan between the two commits may
       observe count-zero rows (filter ``n_rows > 0`` for a
       mid-refresh read); every completed refresh leaves none.

    The replay fast path (a replayed *txn_version* whose MERGE already
    landed) completes the retract differently: it scans the WHOLE view
    for count-zero rows, O(view) rather than O(batch), and assumes one
    app maintains the view.  With two apps on one view it would delete
    the other app's in-flight zeros under this app's ``:d`` txn; the
    final view is still right, but ``groups_deleted`` is attributed to
    the wrong batch."""
    _measure_cols(measures)
    ch = changes
    to_version = txn_version
    if SN._txn_committed(view_path, f"{app}:m", to_version):
        # Replay fast path (r13, guide §1.2 — the Delta txnAppId/
        # txnVersion idempotent-writes pattern): the MERGE for this
        # (app, txn) already landed durably, so recomputing the delta
        # and fold just so SN.merge can no-op on the same marker wastes
        # a CDC-batch scan + view join + three count jobs per replayed
        # batch.  Only the RETRACT can be unfinished (a crash between
        # the two commits); the ``:d`` marker — advanced when the
        # retract phase COMPLETES, deads or none — proves even that
        # half done, making a clean replay zero Spark jobs.  Without
        # the marker, committed count-zero view rows are exactly the
        # leftover retract set — "every completed refresh leaves none"
        # (invariant above) — so the view itself, not the re-fold,
        # identifies them: one scan of the whole (per-group) view —
        # O(view), single app per view (see the docstring).
        if SN._txn_committed(view_path, f"{app}:d", to_version):
            return {"applied": False, "groups_upserted": 0,
                    "groups_deleted": 0}
        dead = (
            SN.read(spark, view_path)
            .filter(F.col(COUNT_COL) == 0)
            .select(group_name)
        )
        n_dead = dead.count()
        if n_dead:
            if SN.delete(
                dead, view_path, key=group_name, n_files=n_files,
                txn=(f"{app}:d", to_version),
            ) is None:
                n_dead = 0
        SN._advance_txn(view_path, f"{app}:d", to_version)
        return {"applied": bool(n_dead), "groups_upserted": 0,
                "groups_deleted": n_dead}
    sign = F.when(
        F.col("_change_type").isin(*_POS_CHANGES), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = (
        ch.groupBy(group.alias(group_name))
        .agg(
            F.sum(sign).alias(f"_d_{COUNT_COL}"),
            *[
                F.sum(sign * expr).alias(f"_d_{name}")
                for name, expr in measures.items()
            ],
        )
    ).persist()
    try:
        # bounded: one row per AFFECTED group (never the group universe)
        if not delta.head(1):
            return {"applied": False, "groups_upserted": 0,
                    "groups_deleted": 0}
        cur = SN.read(spark, view_path)
        names = [COUNT_COL, *measures]
        folded = (
            delta.join(cur, [group_name], "left")
            .select(
                group_name,
                F.col(COUNT_COL).isNotNull().alias("_in_view"),
                *[
                    (
                        F.coalesce(F.col(n), F.lit(0))
                        + F.coalesce(F.col(f"_d_{n}"), F.lit(0))
                    ).alias(n)
                    for n in names
                ],
            )
            .persist()
        )
        try:
            # groups at zero that never existed in the view (insert +
            # delete within one batch) are dropped; zeros that DO exist
            # ride the merge so upsert+zeroing is one atomic commit
            upserts = folded.filter(
                (F.col(COUNT_COL) > 0) | F.col("_in_view")
            ).drop("_in_view")
            n_up = upserts.filter(F.col(COUNT_COL) > 0).count()
            if upserts.head(1):
                if SN.merge(
                    upserts, view_path, key=group_name, n_files=n_files,
                    txn=(f"{app}:m", to_version),
                ) is None:
                    n_up = 0  # replay — the merge already landed
            # retract from COMMITTED view state among affected groups —
            # bounded by the delta's group count, trustworthy on replay
            dead = (
                SN.read(spark, view_path)
                .join(delta.select(group_name), [group_name], "left_semi")
                .filter(F.col(COUNT_COL) == 0)
                .select(group_name)
            )
            n_dead = dead.count()
            if n_dead:
                if SN.delete(
                    dead, view_path, key=group_name, n_files=n_files,
                    txn=(f"{app}:d", to_version),
                ) is None:
                    n_dead = 0  # replay — the retract already landed
            # mark the retract phase complete even when it found no
            # zeros (SN.delete only advances the marker on a commit):
            # a replay of a fully-completed refresh is then detected
            # from the two txn markers alone — zero Spark jobs
            SN._advance_txn(view_path, f"{app}:d", to_version)
            return {
                "applied": bool(n_up or n_dead),
                "groups_upserted": n_up,
                "groups_deleted": n_dead,
            }
        finally:
            folded.unpersist()
    finally:
        delta.unpersist()


def _signed_cdc(df: DataFrame) -> DataFrame:
    """Tag CDC rows with an explicit ``_sign`` (+1 insert/postimage,
    −1 delete/preimage) and drop the feed meta columns."""
    sign = F.when(
        F.col("_change_type").isin(*_POS_CHANGES), F.lit(1)
    ).otherwise(F.lit(-1))
    return df.withColumn("_sign", sign).drop(
        "_change_type", "_commit_version"
    )


def init_join_agg_view(
    spark: SparkSession,
    a_path: str,
    b_path: str,
    view_path: str,
    on: tuple[str, str],
    group: Column,
    group_name: str,
    measures: dict,
    *,
    a_version: int | None = None,
    b_version: int | None = None,
    n_files: int = 1,
) -> int:
    """Materialize ``SELECT group, count(*), SUM(measures) FROM A JOIN
    B ON a_col = b_col GROUP BY group`` from scratch at the given
    source versions and commit it as the view's version 1.  *on* is
    ``(a_col, b_col)``; *group* and every measure Column range over
    the JOINED column namespace.  Returns the committed version."""
    a = SN.read(spark, a_path, a_version)
    b = SN.read(spark, b_path, b_version)
    a_col, b_col = on
    joined = a.join(b, a[a_col] == b[b_col])
    agg = joined.groupBy(group.alias(group_name)).agg(
        F.count(F.lit(1)).alias(COUNT_COL),
        *[F.sum(expr).alias(name) for name, expr in measures.items()],
    )
    v = SN.overwrite(agg, view_path, n_files=n_files)
    if n_files > 1:
        v = SN.compact(spark, view_path, n_files=n_files,
                       cluster_by=[group_name])
    return v


def refresh_join_agg_view(
    spark: SparkSession,
    a_path: str,
    b_path: str,
    view_path: str,
    on: tuple[str, str],
    group: Column,
    group_name: str,
    measures: dict,
    *,
    a_from: int,
    a_to: int,
    b_from: int,
    b_to: int,
    txn_version: int,
    app: str = "ivm-join",
    n_files: int = 1,
) -> dict:
    """Maintain an aggregate over a TWO-TABLE JOIN from both tables'
    row-CDC feeds (VERDICT r11 item 2) — the delta-join identity over
    signed multisets::

        A₁⋈B₁ − A₀⋈B₀  =  ΔA⋈B₁  ∪  A₀⋈ΔB

    (proof: add and subtract A₀⋈B₁; ΔX = X₁ − X₀ signed).  Each
    joined delta row carries the sign of the CDC row that produced
    it, the per-group signed sums fold through the same atomic
    merge + view-derived retract as :func:`apply_changes` (one app
    transaction keyed to *txn_version*, replay-safe), and groups
    reaching count zero retract.

    Scale shape: ΔA and ΔB are each commit's touched files (the CDC
    contract).  ΔA⋈B₁ joins a CHANGE-sized frame against a full
    snapshot — at 100 TB that is a broadcast of ΔA (or a stats-pruned
    shuffle when ΔA is large), never table×table; A₀⋈ΔB is symmetric.
    The asymmetry (B at NEW version, A at OLD) is load-bearing — both
    sides at the same version double-counts same-batch coupled
    changes.

    *txn_version* must be monotone per *app* across refreshes (pass a
    step counter or ``a_to * K + b_to``).  Same return shape as
    :func:`refresh_agg_view`."""
    a_col, b_col = on

    def _empty_feed(path: str, v: int) -> DataFrame:
        base = SN.read(spark, path, v).limit(0)
        return (base.withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(v).cast("long"))
                .limit(0))

    d_a = (SN.read_row_changes(spark, a_path, a_from, a_to)
           if a_to > a_from else _empty_feed(a_path, a_from))
    d_b = (SN.read_row_changes(spark, b_path, b_from, b_to)
           if b_to > b_from else _empty_feed(b_path, b_from))
    b_new = SN.read(spark, b_path, b_to)
    a_old = SN.read(spark, a_path, a_from)

    def _rows(left: DataFrame, right: DataFrame) -> DataFrame:
        # evaluate group + measures INSIDE each part (the two parts
        # have different column namespaces; the evaluated projection
        # is union-compatible by construction)
        joined = left.join(right, left[a_col] == right[b_col])
        return joined.select(
            group.alias(group_name),
            F.col("_sign"),
            *[expr.alias(name) for name, expr in measures.items()],
        )

    part_a = _rows(_signed_cdc(d_a), b_new)
    part_b = _rows(a_old, _signed_cdc(d_b))
    signed = part_a.unionByName(part_b)
    changes = signed.withColumn(
        "_change_type",
        F.when(F.col("_sign") > 0, F.lit("insert")).otherwise(
            F.lit("delete")
        ),
    ).drop("_sign")
    # the measures were already evaluated to named columns above, so
    # the fold's expressions are plain column references
    return apply_changes(
        spark, view_path, changes, F.col(group_name), group_name,
        {name: F.col(name) for name in measures},
        txn_version=txn_version, app=app, n_files=n_files,
    )


def refresh_chain_agg_view(
    spark: SparkSession,
    tables: list[tuple[str, int, int]],
    view_path: str,
    ons: list[tuple[str, str]],
    group: Column,
    group_name: str,
    measures: dict,
    *,
    txn_version: int,
    app: str = "ivm-chain",
    n_files: int = 1,
) -> dict:
    """Maintain an aggregate over an N-TABLE JOIN CHAIN from every
    table's row-CDC feed — the telescoped delta-join identity::

        Δ(T¹⋈…⋈Tⁿ) = Σᵢ  T¹₀⋈…⋈Tⁱ⁻¹₀  ⋈ ΔTⁱ ⋈  Tⁱ⁺¹₁⋈…⋈Tⁿ₁

    (tables LEFT of the changing one at their OLD versions, tables
    RIGHT of it at their NEW versions — the same asymmetry as the
    two-table form, applied per position; add-and-subtract the mixed
    terms to prove it).  *tables* is ``[(path, from_v, to_v), ...]``
    in chain order; ``ons[j] = (col_in_Tj, col_in_Tj+1)`` joins
    adjacent tables — column names must be DISTINCT across the chain
    (TPC-H style ``l_/o_/c_`` prefixes).  Tables with ``from == to``
    contribute no delta term but still appear as join sides.

    Scale shape: every term is rooted at ONE table's change-sized
    feed and joins outward against full snapshots — each join is
    (delta-rooted frame) ⋈ (one table), broadcastable when the delta
    is small and AQE-planned otherwise, never table × table.  The
    canonical warehouse view (revenue per nation = lineitem ⋈ orders
    ⋈ customer) refreshes as three such terms.  Fold semantics,
    exactly-once transactions, and the return shape match
    :func:`apply_changes`."""
    n = len(tables)
    if len(ons) != n - 1:
        raise ValueError(
            f"refresh_chain_agg_view: {n} tables need {n - 1} join "
            f"conditions, got {len(ons)}"
        )
    olds = [SN.read(spark, p, vf) for p, vf, _vt in tables]
    news = [SN.read(spark, p, vt) for p, _vf, vt in tables]
    seen: dict = {}
    for i, df in enumerate(news):
        for c in df.columns:
            if c in seen:
                raise ValueError(
                    f"refresh_chain_agg_view: column {c!r} appears in "
                    f"both table {seen[c]} and table {i} — chain "
                    "columns must be distinct (alias before committing)"
                )
            seen[c] = i
    terms = []
    for i, (p, vf, vt) in enumerate(tables):
        if vt <= vf:
            continue  # no changes on this table this refresh
        cur = _signed_cdc(SN.read_row_changes(spark, p, vf, vt))
        for j in range(i, n - 1):  # rightward, NEW versions
            lcol, rcol = ons[j]
            cur = cur.join(news[j + 1], F.col(lcol) == F.col(rcol))
        for j in range(i - 1, -1, -1):  # leftward, OLD versions
            lcol, rcol = ons[j]
            cur = olds[j].join(cur, F.col(lcol) == F.col(rcol))
        terms.append(cur.select(
            group.alias(group_name),
            F.col("_sign"),
            *[expr.alias(name) for name, expr in measures.items()],
        ))
    if not terms:
        return {"applied": False, "groups_upserted": 0,
                "groups_deleted": 0}
    signed = terms[0]
    for t in terms[1:]:
        signed = signed.unionByName(t)
    changes = signed.withColumn(
        "_change_type",
        F.when(F.col("_sign") > 0, F.lit("insert")).otherwise(
            F.lit("delete")
        ),
    ).drop("_sign")
    return apply_changes(
        spark, view_path, changes, F.col(group_name), group_name,
        {name: F.col(name) for name in measures},
        txn_version=txn_version, app=app, n_files=n_files,
    )


def init_chain_agg_view(
    spark: SparkSession,
    tables: list[tuple[str, int]],
    view_path: str,
    ons: list[tuple[str, str]],
    group: Column,
    group_name: str,
    measures: dict,
    *,
    n_files: int = 1,
) -> int:
    """Materialize the chain view from scratch at the given
    ``[(path, version), ...]`` and commit it as the view's v1."""
    frames = [SN.read(spark, p, v) for p, v in tables]
    joined = frames[0]
    for j, f in enumerate(frames[1:]):
        lcol, rcol = ons[j]
        joined = joined.join(f, F.col(lcol) == F.col(rcol))
    agg = joined.groupBy(group.alias(group_name)).agg(
        F.count(F.lit(1)).alias(COUNT_COL),
        *[F.sum(expr).alias(name) for name, expr in measures.items()],
    )
    v = SN.overwrite(agg, view_path, n_files=n_files)
    if n_files > 1:
        v = SN.compact(spark, view_path, n_files=n_files,
                       cluster_by=[group_name])
    return v


def chain_view_equals_recompute(
    spark: SparkSession,
    table_paths: list[str],
    view_path: str,
    ons: list[tuple[str, str]],
    group: Column,
    group_name: str,
    measures: dict,
) -> DataFrame:
    """Audit frame: maintained chain view vs a from-scratch join +
    group-by at every table's latest version — empty iff converged."""
    frames = [SN.read(spark, p) for p in table_paths]
    joined = frames[0]
    for j, f in enumerate(frames[1:]):
        lcol, rcol = ons[j]
        joined = joined.join(f, F.col(lcol) == F.col(rcol))
    fresh = joined.groupBy(group.alias(group_name)).agg(
        F.count(F.lit(1)).alias(COUNT_COL),
        *[F.sum(expr).alias(n) for n, expr in measures.items()],
    )
    view = SN.read(spark, view_path).select(*fresh.columns)
    return view.exceptAll(fresh).unionByName(fresh.exceptAll(view))


def join_view_equals_recompute(
    spark: SparkSession,
    a_path: str,
    b_path: str,
    view_path: str,
    on: tuple[str, str],
    group: Column,
    group_name: str,
    measures: dict,
) -> DataFrame:
    """Audit frame: maintained join view vs a from-scratch join +
    group-by at the sources' latest versions — empty iff converged."""
    a = SN.read(spark, a_path)
    b = SN.read(spark, b_path)
    a_col, b_col = on
    fresh = (
        a.join(b, a[a_col] == b[b_col])
        .groupBy(group.alias(group_name))
        .agg(
            F.count(F.lit(1)).alias(COUNT_COL),
            *[F.sum(expr).alias(n) for n, expr in measures.items()],
        )
    )
    view = SN.read(spark, view_path).select(*fresh.columns)
    return view.exceptAll(fresh).unionByName(fresh.exceptAll(view))


# ---------------------------------------------------------------------------
# MIN/MAX maintenance via auxiliary count-per-value state (r12 —
# VERDICT r11 item 4): MIN/MAX have no additive inverse under deletes
# (retracting the current extremum needs to know the runner-up), so the
# view is backed by an AUXILIARY ledger table holding one row per live
# (group, value) pair with its multiplicity.  A delete folds the pair's
# count down; the group's min/max then recomputes from the aux rows of
# the AFFECTED groups only — never a source rescan.  State-size bound:
# |aux| = live distinct (group, value) pairs ≤ min(source rows, groups
# × per-group NDV of the value) — for low-cardinality measures (status
# codes, bucketed lengths) this is tiny; for unique values it equals
# the source, which is still O(1) per refresh because only affected
# groups' aux rows are read.  Rows with a NULL value are excluded
# (SQL MIN/MAX semantics); ``n_vals`` counts non-null values.

def init_minmax_view(
    spark: SparkSession,
    source_path: str,
    view_path: str,
    aux_path: str,
    group: Column,
    group_name: str,
    value: Column,
    value_name: str,
    *,
    version: int | None = None,
    n_files: int = 1,
) -> int:
    """Materialize the aux (count-per-(group,value)) and the MIN/MAX
    view from scratch at source *version*; returns the view's
    committed version."""
    src = SN.read(spark, source_path, version)
    aux = (
        src.select(group.alias(group_name), value.alias(value_name))
        .filter(F.col(value_name).isNotNull())
        .groupBy(group_name, value_name)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "aux_key",
            F.concat_ws("|", F.col(group_name), F.col(value_name)),
        )
    )
    SN.overwrite(aux.select("aux_key", group_name, value_name, "cnt"),
                 aux_path, n_files=n_files)
    view = (
        SN.read(spark, aux_path)
        .groupBy(group_name)
        .agg(
            F.sum("cnt").alias("n_vals"),
            F.min(value_name).alias(f"min_{value_name}"),
            F.max(value_name).alias(f"max_{value_name}"),
        )
    )
    return SN.overwrite(view, view_path, n_files=n_files)


def refresh_minmax_view(
    spark: SparkSession,
    source_path: str,
    view_path: str,
    aux_path: str,
    group: Column,
    group_name: str,
    value: Column,
    value_name: str,
    *,
    from_version: int,
    to_version: int,
    app: str = "ivm-mm",
    n_files: int = 1,
) -> dict:
    """Fold the source's row changes in ``(from, to]`` into the aux
    state, then recompute min/max for the AFFECTED groups from the
    committed aux — a DELETE of the current group extremum converges
    to the runner-up without touching the source.  Exactly-once via
    four app transactions (aux merge/retract, view merge/retract),
    each replay a durable no-op; every derived set reads COMMITTED
    state, so crash-resumes complete exactly like
    :func:`apply_changes`.  Returns ``{"applied": bool,
    "groups_upserted": int, "groups_deleted": int}``."""
    feed = SN.read_row_changes(spark, source_path, from_version,
                               to_version)
    sign = F.when(
        F.col("_change_type").isin(*_POS_CHANGES), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = (
        feed.select(group.alias(group_name), value.alias(value_name),
                    sign.alias("_s"))
        .filter(F.col(value_name).isNotNull())
        .groupBy(group_name, value_name)
        .agg(F.sum("_s").alias("_d_cnt"))
        .withColumn(
            "aux_key",
            F.concat_ws("|", F.col(group_name), F.col(value_name)),
        )
        .persist()
    )
    try:
        if not delta.head(1):
            return {"applied": False, "groups_upserted": 0,
                    "groups_deleted": 0}
        # --- aux fold: the same atomic-zero + committed-state-retract
        # pattern as apply_changes, keyed by the packed (group, value)
        cur = SN.read(spark, aux_path)
        folded = (
            delta.join(cur.select("aux_key", "cnt"), ["aux_key"], "left")
            .select(
                "aux_key", group_name, value_name,
                F.col("cnt").isNotNull().alias("_in_aux"),
                (F.coalesce(F.col("cnt"), F.lit(0))
                 + F.col("_d_cnt")).alias("cnt"),
            )
        )
        upserts = folded.filter(
            (F.col("cnt") > 0) | F.col("_in_aux")
        ).drop("_in_aux")
        if upserts.head(1):
            SN.merge(upserts, aux_path, key="aux_key", n_files=n_files,
                     txn=(f"{app}:am", to_version))
        dead_pairs = (
            SN.read(spark, aux_path)
            .join(delta.select("aux_key"), ["aux_key"], "left_semi")
            .filter(F.col("cnt") == 0)
            .select("aux_key")
        )
        if dead_pairs.head(1):
            SN.delete(dead_pairs, aux_path, key="aux_key",
                      n_files=n_files, txn=(f"{app}:ad", to_version))
        # --- view recompute for AFFECTED groups, from committed aux
        affected = delta.select(group_name).distinct()
        live = (
            SN.read(spark, aux_path)
            .join(affected, [group_name], "left_semi")
            .filter(F.col("cnt") > 0)
        )
        new_rows = live.groupBy(group_name).agg(
            F.sum("cnt").alias("n_vals"),
            F.min(value_name).alias(f"min_{value_name}"),
            F.max(value_name).alias(f"max_{value_name}"),
        ).persist()
        try:
            n_up = new_rows.count()
            if n_up:
                if SN.merge(new_rows, view_path, key=group_name,
                            n_files=n_files,
                            txn=(f"{app}:vm", to_version)) is None:
                    n_up = 0
            dead_groups = (
                SN.read(spark, view_path)
                .join(affected, [group_name], "left_semi")
                .join(new_rows.select(group_name), [group_name],
                      "left_anti")
                .select(group_name)
            )
            n_dead = dead_groups.count()
            if n_dead:
                if SN.delete(dead_groups, view_path, key=group_name,
                             n_files=n_files,
                             txn=(f"{app}:vd", to_version)) is None:
                    n_dead = 0
            return {"applied": bool(n_up or n_dead),
                    "groups_upserted": n_up, "groups_deleted": n_dead}
        finally:
            new_rows.unpersist()
    finally:
        delta.unpersist()


def minmax_view_equals_recompute(
    spark: SparkSession,
    source_path: str,
    view_path: str,
    group: Column,
    group_name: str,
    value: Column,
    value_name: str,
) -> DataFrame:
    """Audit frame: maintained MIN/MAX view vs a from-scratch
    group-by of the source's latest snapshot — empty iff converged."""
    fresh = (
        SN.read(spark, source_path)
        .select(group.alias(group_name), value.alias(value_name))
        .filter(F.col(value_name).isNotNull())
        .groupBy(group_name)
        .agg(
            F.count(F.lit(1)).alias("n_vals"),
            F.min(value_name).alias(f"min_{value_name}"),
            F.max(value_name).alias(f"max_{value_name}"),
        )
    )
    view = SN.read(spark, view_path).select(*fresh.columns)
    return view.exceptAll(fresh).unionByName(fresh.exceptAll(view))
