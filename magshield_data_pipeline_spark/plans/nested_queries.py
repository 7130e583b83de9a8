"""Nested array-of-struct queries — the reference's signature data shape.

Every reference export flows through ``CUSTOMFIELDS`` → dict
(/root/reference/modules/quote.py:202, organisation.py:123) and
``LINKS`` filtering/folding (/root/reference/modules/task.py:157-168,
223-246; opportunity.py:190-196). The star schema has no nested
columns, so each query here first BUILDS the nested shape from lineitem
(ordered ``collect_list(struct(...))`` ≙ DuckDB ``list(... ORDER BY)``)
and then consumes it with higher-order functions — proving the engine
runs the reference's nested-data workload end to end, oracle-checked.

Scale note shared by all three: building per-key arrays concentrates a
key's rows in one task (same hazard as any groupBy on a skewed parent
key). That is inherent to producing the nested shape the downstream
operator consumes — when only scalar results are needed, fold without
materializing arrays (see link_type_dispatch, which re-pivots
relationally after the explode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from magshield_data_pipeline_spark.functions import scalars as S
from magshield_data_pipeline_spark.plans.registry import register
from magshield_data_pipeline_spark.sources.parquet import read_table

# link type per lineitem row: deterministic CASE over l_returnflag,
# mirroring the reference's LINK_OBJECT_NAME domain (task.py:157-168)
_TYPE_CASE_SQL = (
    "CASE l_returnflag WHEN 'R' THEN 'Organisation' "
    "WHEN 'A' THEN 'Contact' ELSE 'Opportunity' END"
)


def _link_type() -> F.Column:
    return (
        F.when(F.col("l_returnflag") == "R", "Organisation")
        .when(F.col("l_returnflag") == "A", "Contact")
        .otherwise("Opportunity")
    )


def _links_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(order_id, LINKS array<struct<LINK_OBJECT_NAME,LINK_OBJECT_ID>>),
    array ordered by (linenumber, partkey, suppkey) — parquet arrays
    preserve order, and the reference's folds are order-sensitive (Q5),
    so the build sorts on a total-order key."""
    lineitem = read_table(spark, sf_dir, "lineitem")
    entry = F.struct(
        F.col("l_linenumber").alias("p1"),
        F.col("l_partkey").alias("p2"),
        F.col("l_suppkey").alias("p3"),
        _link_type().alias("LINK_OBJECT_NAME"),
        F.col("l_partkey").alias("LINK_OBJECT_ID"),
    )
    return (
        lineitem.groupBy(F.col("l_orderkey").alias("order_id"))
        .agg(F.sort_array(F.collect_list(entry)).alias("raw"))
        .select(
            "order_id",
            F.transform(
                "raw",
                lambda x: F.struct(
                    x["LINK_OBJECT_NAME"].alias("LINK_OBJECT_NAME"),
                    x["LINK_OBJECT_ID"].alias("LINK_OBJECT_ID"),
                ),
            ).alias("LINKS"),
        )
    )


# ---------------------------------------------------------------------------
# P7 + F8 + F9 + Q5-on-arrays — higher-order pipeline over LINKS


@register(
    "links_array_pipeline",
    sql=f"""
    WITH links AS (
        SELECT l_orderkey AS order_id,
               list({{'LINK_OBJECT_NAME': {_TYPE_CASE_SQL}, 'LINK_OBJECT_ID': l_partkey}}
                    ORDER BY l_linenumber, l_partkey, l_suppkey) AS ls
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT
        order_id,
        len(list_filter(ls, x -> x.LINK_OBJECT_NAME = 'Organisation')) AS n_org_links,
        coalesce(array_to_string(
            list_transform(
                list_filter(ls, x -> x.LINK_OBJECT_NAME = 'Organisation'),
                x -> CAST(x.LINK_OBJECT_ID AS VARCHAR)),
            ' and '), '') AS org_ids_joined,
        list_filter(ls, x -> x.LINK_OBJECT_NAME = 'Contact')[-1].LINK_OBJECT_ID AS last_contact_id,
        len(ls) AS n_links
    FROM links
    """,
    description="build LINKS array<struct> then filter/count/join/last-wins "
    "with higher-order functions (P7, F8, F9/A2, J9, Q5-on-arrays)",
)
def links_array_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The consuming expressions are pure array ops — zero additional
    # shuffles after the array build; all inside whole-stage codegen.
    links = _links_df(spark, sf_dir)
    org = F.filter("LINKS", lambda x: x["LINK_OBJECT_NAME"] == "Organisation")
    contact = F.filter("LINKS", lambda x: x["LINK_OBJECT_NAME"] == "Contact")
    return links.select(
        "order_id",
        F.size(org).alias("n_org_links"),
        F.array_join(
            F.transform(org, lambda x: x["LINK_OBJECT_ID"].cast("string")), " and "
        ).alias("org_ids_joined"),
        # try_element_at: null on empty filtered array (DuckDB [-1] ditto)
        F.try_element_at(contact, F.lit(-1))["LINK_OBJECT_ID"].alias("last_contact_id"),
        F.size(F.col("LINKS")).alias("n_links"),
    )


# ---------------------------------------------------------------------------
# P1 + Q5 — CUSTOMFIELDS entries → map with LAST_WIN duplicate-key fold


@register(
    "custom_fields_last_wins",
    sql=f"""
    WITH e AS (
        SELECT
            l_orderkey AS order_id,
            concat('f_', l_returnflag) AS k,
            CAST(l_partkey AS VARCHAR)  AS v,
            row_number() OVER (
                PARTITION BY l_orderkey, l_returnflag
                ORDER BY l_linenumber DESC, l_partkey DESC, l_suppkey DESC
            ) AS rn
        FROM lineitem
    )
    SELECT
        order_id,
        coalesce(max(CASE WHEN k = 'f_R' AND rn = 1 THEN v END), '') AS flag_r_val,
        coalesce(max(CASE WHEN k = 'f_A' AND rn = 1 THEN v END), '') AS flag_a_val,
        coalesce(max(CASE WHEN k = 'f_N' AND rn = 1 THEN v END), '') AS flag_n_val
    FROM e GROUP BY order_id
    """,
    description="CUSTOMFIELDS-shaped entries → map_from_entries under "
    "LAST_WIN + null-safe getItem (P1, J3 key-prep, Q5 duplicate-key fold)",
)
def custom_fields_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Entries deliberately carry DUPLICATE field names (one per lineitem
    # row, keyed by returnflag); map_from_entries under
    # spark.sql.mapKeyDedupPolicy=LAST_WIN keeps the last — exactly the
    # reference's Python-dict build semantics (quote.py:202). The oracle
    # states last-wins explicitly with a reverse-ordered row_number.
    lineitem = read_table(spark, sf_dir, "lineitem")
    entry = F.struct(
        F.col("l_linenumber").alias("p1"),
        F.col("l_partkey").alias("p2"),
        F.col("l_suppkey").alias("p3"),
        F.concat(F.lit("f_"), F.col("l_returnflag")).alias("FIELD_NAME"),
        F.col("l_partkey").cast("string").alias("FIELD_VALUE"),
    )
    cf = (
        lineitem.groupBy(F.col("l_orderkey").alias("order_id"))
        .agg(F.sort_array(F.collect_list(entry)).alias("raw"))
        .select(
            "order_id",
            F.map_from_entries(
                F.transform(
                    "raw",
                    lambda x: F.struct(
                        x["FIELD_NAME"].alias("FIELD_NAME"),
                        x["FIELD_VALUE"].alias("FIELD_VALUE"),
                    ),
                )
            ).alias("m"),
        )
    )
    return cf.select(
        "order_id",
        F.expr(S.cf_get("m", "f_R")).alias("flag_r_val"),
        F.expr(S.cf_get("m", "f_A")).alias("flag_a_val"),
        F.expr(S.cf_get("m", "f_N")).alias("flag_n_val"),
    )


# ---------------------------------------------------------------------------
# P8 + J10 — explode LINKS, route by type into dim joins, re-pivot


@register(
    "link_type_dispatch",
    sql=f"""
    WITH e AS (
        SELECT
            l_orderkey AS order_id,
            {_TYPE_CASE_SQL} AS typ,
            CASE WHEN l_returnflag = 'A' THEN l_suppkey ELSE l_partkey END AS link_id,
            row_number() OVER (
                PARTITION BY l_orderkey, {_TYPE_CASE_SQL}
                ORDER BY l_linenumber DESC, l_partkey DESC, l_suppkey DESC
            ) AS rn
        FROM lineitem
    )
    SELECT
        order_id,
        max(CASE WHEN typ = 'Organisation' AND rn = 1 THEN p.p_name END) AS last_org_name,
        max(CASE WHEN typ = 'Contact' AND rn = 1 THEN s.s_name END)      AS last_contact_name,
        count(CASE WHEN typ = 'Opportunity' THEN 1 END)                  AS n_opp_links
    FROM e
    LEFT JOIN part     p ON typ = 'Organisation' AND link_id = p.p_partkey
    LEFT JOIN supplier s ON typ = 'Contact'      AND link_id = s.s_suppkey
    GROUP BY order_id
    """,
    description="LINKS dispatch: explode array, route each link type to its "
    "dim join, re-pivot one row per entity with last-wins per type (P8, J10)",
)
def link_type_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Mirrors task.py:157-168 (collect links) + 223-246 (resolve by type,
    # last-wins). Plan: build the array (shuffle 1) → posexplode → two
    # type-guarded broadcast joins (part/supplier are dims) → ONE
    # groupBy on the entity with max_by last-wins per type (shuffle 2).
    # A ranking window would partition on (order, type) — a different
    # key than the final groupBy — costing a third exchange for the
    # same semantics.
    lineitem = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    supplier = read_table(spark, sf_dir, "supplier")

    entry = F.struct(
        F.col("l_linenumber").alias("p1"),
        F.col("l_partkey").alias("p2"),
        F.col("l_suppkey").alias("p3"),
        _link_type().alias("LINK_OBJECT_NAME"),
        F.when(F.col("l_returnflag") == "A", F.col("l_suppkey"))
        .otherwise(F.col("l_partkey"))
        .alias("LINK_OBJECT_ID"),
    )
    links = lineitem.groupBy(F.col("l_orderkey").alias("order_id")).agg(
        F.sort_array(F.collect_list(entry)).alias("raw")
    )
    exploded = links.select(
        "order_id", F.posexplode("raw").alias("pos", "lnk")
    ).select(
        "order_id",
        F.col("pos"),
        F.col("lnk.LINK_OBJECT_NAME").alias("typ"),
        F.col("lnk.LINK_OBJECT_ID").alias("link_id"),
    )
    joined = exploded.join(
        F.broadcast(part),
        (F.col("typ") == "Organisation") & (F.col("link_id") == F.col("p_partkey")),
        "left",
    ).join(
        F.broadcast(supplier),
        (F.col("typ") == "Contact") & (F.col("link_id") == F.col("s_suppkey")),
        "left",
    )
    def last_of_type(typ: str, value: F.Column) -> F.Column:
        cand = F.col("typ") == typ
        key = F.when(cand, F.col("pos")).otherwise(F.lit(-1))
        # winner is the highest-pos candidate (its dim value, possibly
        # null on a join miss); with no candidates a -1 row wins and its
        # value is null — matching the oracle's CASE-on-rn semantics
        return F.max_by(F.when(cand, value), key)

    return joined.groupBy("order_id").agg(
        last_of_type("Organisation", F.col("p_name")).alias("last_org_name"),
        last_of_type("Contact", F.col("s_name")).alias("last_contact_name"),
        F.count(F.when(F.col("typ") == "Opportunity", 1)).alias("n_opp_links"),
    )
