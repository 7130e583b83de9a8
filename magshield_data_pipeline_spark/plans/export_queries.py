"""End-to-end CRM export pipelines as oracle-checked registry queries.

The seven export pipelines in ``exports.py`` are pure DataFrame
functions mirroring the reference's products
(/root/reference/modules/organisation.py:120-144, quote.py:195-242).
Unit tests cover their quirks on fixtures; these queries close the last
verification gap by building CRM-shaped input (CUSTOMFIELDS entry
arrays, LINKS arrays, ISO date strings) FROM the star schema and
running the real export functions through the driver's DuckDB oracle —
the oracle SQL states the expected output of the whole pipeline
relationally.

Scale: the builders are one groupBy each (LINKS per parent key) plus
broadcast dim joins; the export functions themselves add no exchange
beyond the final dropDuplicates — same posture as exports.py documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magshield_data_pipeline_spark import exports as X
from magshield_data_pipeline_spark.plans.registry import register
from magshield_data_pipeline_spark.sources.parquet import (
    read_table,
    read_table_spread,
)

# ---------------------------------------------------------------------------
# organisation export (P1 map build, P5 truthiness, F1 clean_text,
# F3 date-or-passthrough, F9 conditional link count, A4 formatted dedup)


def _entry(name, value) -> F.Column:
    return F.struct(
        F.lit(name).alias("FIELD_NAME"),
        (F.lit(value) if isinstance(value, str) else value).alias("FIELD_VALUE"),
    )


_ORG_EXPORT_SQL = r"""
WITH geo AS (
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
),
lk AS (
    SELECT o_custkey, count(*) FILTER (WHERE o_orderstatus = 'F') AS n_contact
    FROM orders GROUP BY o_custkey
)
SELECT
    c_custkey AS "Organization ID",
    trim(regexp_replace(c_name || chr(10) || c_mktsegment, '[\r\n]', ' ', 'g'))
        AS "Organization Name",
    CASE WHEN c_custkey % 7 = 0 THEN 'never-created'
         ELSE '01/' || lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0') || '/2024'
    END AS "Date Created",
    CAST(coalesce(lk.n_contact, 0) AS INT) AS "Linked Contacts Count",
    (c_custkey % 2 = 0 AND c_mktsegment != 'BUILDING') AS "Focus Organization",
    c_mktsegment AS "Call Frequency",
    '' AS "Industry",
    geo.r_name AS "Region",
    '' AS "Customer Type",
    CASE WHEN c_acctbal < 0 THEN 'debtor' ELSE 'credit' END AS "Organization Type",
    geo.n_name AS "Billing Country"
FROM customer
JOIN geo ON c_nationkey = geo.n_nationkey
LEFT JOIN lk ON c_custkey = lk.o_custkey
"""


@register(
    "organisation_export_pipeline",
    sql=_ORG_EXPORT_SQL,
    description="end-to-end organisation CRM export: build CUSTOMFIELDS "
    "entry array (with a duplicate key → LAST_WIN fold), LINKS array, and "
    "ISO/unparseable date strings from the star schema, then run the real "
    "exports.organisation_export — oracle states the expected pipeline "
    "output relationally (P1, P5, F1, F3, F9, A4)",
)
def organisation_export_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CRM-shaped input: the CUSTOMFIELDS array carries a DUPLICATE
    # Call_Frequency__c key ('weekly' then the real segment) so the
    # LAST_WIN dict fold is exercised; Active__c is present only for
    # even keys (missing-key truthiness) and empty for BUILDING rows
    # (empty-string truthiness); every 7th date string is unparseable
    # (format passthrough); ~1/3 of customers have no orders (null
    # LINKS → count 0).
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    orders = read_table(spark, sf_dir, "orders")

    geo = F.broadcast(
        nation.join(region, nation["n_regionkey"] == region["r_regionkey"]).select(
            "n_nationkey", "n_name", "r_name"
        )
    )
    link_name = (
        F.when(F.col("o_orderstatus") == "F", "Contact")
        .when(F.col("o_orderstatus") == "O", "Opportunity")
        .otherwise("Organisation")
    )
    links = orders.groupBy("o_custkey").agg(
        F.collect_list(
            F.struct(
                link_name.alias("LINK_OBJECT_NAME"),
                F.col("o_orderkey").alias("LINK_OBJECT_ID"),
            )
        ).alias("LINKS")
    )
    base_cf = F.array(
        _entry("Call_Frequency__c", "weekly"),
        _entry("Region__c", F.col("r_name")),
        _entry("Call_Frequency__c", F.col("c_mktsegment")),
        _entry(
            "Organization_Type__c",
            F.when(F.col("c_acctbal") < 0, "debtor").otherwise("credit"),
        ),
    )
    active = F.when(F.col("c_mktsegment") == "BUILDING", F.lit("")).otherwise(
        F.lit("yes")
    )
    cf = F.when(
        F.col("c_custkey") % 2 == 0,
        F.concat(base_cf, F.array(_entry("Active__c", active))),
    ).otherwise(base_cf)
    datestr = F.when(
        F.col("c_custkey") % 7 == 0, F.lit("never-created")
    ).otherwise(
        F.concat(
            F.lit("2024-01-"),
            F.lpad(((F.col("c_custkey") % 28) + 1).cast("string"), 2, "0"),
            F.lit(" 10:30:00"),
        )
    )
    orgs = (
        customer.join(geo, customer["c_nationkey"] == geo["n_nationkey"])
        .join(links, customer["c_custkey"] == links["o_custkey"], "left")
        .select(
            F.col("c_custkey").alias("ORGANISATION_ID"),
            F.concat(F.col("c_name"), F.lit("\n"), F.col("c_mktsegment")).alias(
                "ORGANISATION_NAME"
            ),
            datestr.alias("DATE_CREATED_UTC"),
            F.col("LINKS"),
            cf.alias("CUSTOMFIELDS"),
            F.col("n_name").alias("ADDRESS_BILLING_COUNTRY"),
        )
    )
    return X.organisation_export(orgs)


# ---------------------------------------------------------------------------
# quote export (J1-J3 broadcast lookups incl. join on a custom-field
# value, P4 coalesce-across-sources, F2 dates, Q3 str(None) quirk,
# key-missing vs value-empty fallback)

_QUOTE_EXPORT_SQL = r"""
WITH q AS (
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
           strftime(o_orderdate, '%Y-%m-%d') AS exp_date,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS iso
    FROM orders
)
SELECT
    q.o_orderkey AS "Record ID",
    'Q-' || CAST(q.o_orderkey AS VARCHAR) AS "Quote Number",
    q.o_orderstatus AS "Status",
    q.o_orderpriority AS "Quote Name",
    q.o_totalprice AS "Subtotal",
    q.o_totalprice AS "Total Price",
    q.exp_date AS "Expiration Date",
    '10' AS "GST %",
    '' AS "Tax",
    CASE WHEN q.o_orderkey % 3 = 0 THEN printf('%.2f', q.o_totalprice)
         WHEN q.o_orderkey % 3 = 1 THEN ''
         ELSE 'override-' || CAST(q.o_orderkey AS VARCHAR) END AS "Grand Total",
    '' AS "Trade Tariff",
    '' AS "Grand Total w/ Tariff",
    '' AS "MagShield Selling Entity",
    CASE WHEN q.o_orderkey % 5 = 0 THEN 'None'
         WHEN q.o_orderkey % 5 = 1 THEN ''
         ELSE CAST(q.o_custkey AS VARCHAR) END AS "Sales Person Id",
    coalesce(trim(c2.c_name || ' '), '') AS "Sales Person",
    'AU' AS "Billing Country",
    'USD' AS "Currency",
    CAST(0.05 AS DOUBLE) AS "Discount",
    coalesce(
        nullif(CASE WHEN q.o_orderkey % 4 = 0
                    THEN 'Inline-' || CAST(q.o_custkey AS VARCHAR) ELSE '' END, ''),
        nullif(s.s_name, ''), '') AS "Organization Name",
    (q.o_orderkey % 17) + 1 AS "Record ID_1",
    strftime(try_strptime(q.iso, '%Y-%m-%d %H:%M:%S'), '%d-%b-%y %-I:%M %p')
        AS "Date Created",
    strftime(try_strptime(q.iso, '%Y-%m-%d %H:%M:%S'), '%d-%b-%y %-I:%M %p')
        AS "Date Updated",
    coalesce(nullif(c1.c_name, ''), '') AS "Opportunity Name",
    '' AS "Shipping_Terms__c",
    '' AS "ADDRESS_SHIPPING_COUNTRY"
FROM q
LEFT JOIN customer c1 ON q.o_custkey = c1.c_custkey
LEFT JOIN supplier s ON (q.o_orderkey % 17) + 1 = s.s_suppkey
LEFT JOIN customer c2
       ON q.o_orderkey % 5 NOT IN (0, 1) AND q.o_custkey = c2.c_custkey
"""


@register(
    "quote_export_pipeline",
    sql=_QUOTE_EXPORT_SQL,
    description="end-to-end quote CRM export: CUSTOMFIELDS with "
    "null-valued / missing / castable Sales_Person__c (Q3 'None' quirk, "
    "J3 join on a custom-field value), Grand_Total__c key-missing-vs-"
    "value-empty fallback, P4 inline-name-else-dim coalesce, F2 date "
    "reformat — running the real exports.quote_export",
)
def quote_export_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Input construction drives every quirk branch: Sales_Person__c is a
    # null-VALUED entry for orderkey%5==0 (Python str(None) → 'None'),
    # absent for %5==1 (→ ''), and a castable contact id otherwise (J3
    # join); Grand_Total__c is absent for %3==0 (fallback to the raw
    # GRAND_TOTAL — key-missing), EMPTY for %3==1 (no fallback —
    # value-empty), an override otherwise.
    orders = read_table_spread(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")

    sp_val = F.col("o_custkey").cast("string")
    cf = (
        F.when(
            F.col("o_orderkey") % 5 == 0,
            F.array(_entry("Sales_Person__c", F.lit(None).cast("string"))),
        )
        .when(F.col("o_orderkey") % 5 == 1, F.array().cast(
            "array<struct<FIELD_NAME:string,FIELD_VALUE:string>>"
        ))
        .otherwise(F.array(_entry("Sales_Person__c", sp_val)))
    )
    gt = (
        F.when(F.col("o_orderkey") % 3 == 1, F.array(_entry("Grand_Total__c", F.lit(""))))
        .when(
            F.col("o_orderkey") % 3 == 2,
            F.array(
                _entry(
                    "Grand_Total__c",
                    F.concat(F.lit("override-"), F.col("o_orderkey").cast("string")),
                )
            ),
        )
        .otherwise(F.array().cast("array<struct<FIELD_NAME:string,FIELD_VALUE:string>>"))
    )
    gst = F.array(_entry("GST_Percentage__c", "10"))
    quotes = orders.select(
        F.col("o_orderkey").alias("QUOTE_ID"),
        F.concat(F.lit("Q-"), F.col("o_orderkey").cast("string")).alias(
            "QUOTATION_NUMBER"
        ),
        F.col("o_orderstatus").alias("QUOTE_STATUS"),
        F.col("o_orderpriority").alias("QUOTATION_NAME"),
        F.col("o_totalprice").alias("SUBTOTAL"),
        F.col("o_totalprice").alias("TOTAL_PRICE"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias(
            "QUOTATION_EXPIRATION_DATE"
        ),
        F.format_string("%.2f", F.col("o_totalprice")).alias("GRAND_TOTAL"),
        F.concat(cf, gt, gst).alias("CUSTOMFIELDS"),
        F.lit("AU").alias("ADDRESS_BILLING_COUNTRY"),
        F.lit("USD").alias("QUOTATION_CURRENCY_CODE"),
        F.lit(0.05).alias("DISCOUNT"),
        F.when(
            F.col("o_orderkey") % 4 == 0,
            F.concat(F.lit("Inline-"), F.col("o_custkey").cast("string")),
        )
        .otherwise(F.lit(""))
        .alias("ORGANISATION_NAME"),
        ((F.col("o_orderkey") % 17) + 1).alias("ORGANISATION_ID"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
            "DATE_CREATED_UTC"
        ),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
            "DATE_UPDATED_UTC"
        ),
        F.lit("").alias("OPPORTUNITY_NAME"),
        F.col("o_custkey").alias("OPPORTUNITY_ID"),
        F.lit(None).cast("string").alias("ADDRESS_SHIPPING_COUNTRY"),
    )
    opportunities = customer.select(
        F.col("c_custkey").alias("OPPORTUNITY_ID"),
        F.col("c_name").alias("OPPORTUNITY_NAME"),
    )
    organisations = supplier.select(
        F.col("s_suppkey").alias("ORGANISATION_ID"),
        F.col("s_name").alias("ORGANISATION_NAME"),
    )
    contacts = customer.select(
        F.col("c_custkey").alias("CONTACT_ID"),
        F.col("c_name").alias("FIRST_NAME"),
        F.lit(None).cast("string").alias("LAST_NAME"),
    )
    # dims derive from customer/supplier (scale with SF) — per exports.py's
    # dim-size contract, no forced broadcast: AQE decides
    return X.quote_export(
        quotes, opportunities, organisations, contacts, broadcast_dims=False
    )


# ---------------------------------------------------------------------------
# task export (J10-J11, Q5 order-sensitive last-wins fold, F3 dates)

_DD = "lpad(CAST(o_orderkey % 28 + 1 AS VARCHAR), 2, '0')"

_TASK_EXPORT_SQL = f"""
WITH lnk AS (
    SELECT l_orderkey AS task_id,
           row_number() OVER (
               PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_partkey, l_suppkey
           ) AS pos,
           CASE l_partkey % 6 WHEN 0 THEN 'Contact' WHEN 1 THEN 'Lead'
                WHEN 2 THEN 'Opportunity' WHEN 3 THEN 'Organisation'
                WHEN 4 THEN 'Project' ELSE 'Note' END AS typ,
           CASE l_partkey % 6
               WHEN 0 THEN (l_partkey % 1500) + 1
               WHEN 1 THEN l_suppkey % 25
               WHEN 2 THEN l_partkey
               WHEN 3 THEN CASE WHEN l_suppkey % 3 = 0 THEN 999999
                                ELSE (l_suppkey % 1500) + 1 END
               WHEN 4 THEN l_suppkey % 25
               ELSE l_suppkey % 5 END AS lid
    FROM lineitem
),
con AS (SELECT c_custkey AS id,
               coalesce(c_name,'') || ' ' || coalesce(c_mktsegment,'') AS name
        FROM customer),
led AS (SELECT n_nationkey AS id, coalesce(n_name,'') || ' lead' AS name FROM nation),
opp AS (SELECT p_partkey AS id, p_name AS name,
               CASE WHEN p_partkey % 5 = 0 THEN 0
                    ELSE (p_partkey % 1500) + 1 END AS org_id
        FROM part),
org AS (SELECT c_custkey AS id, c_name AS name FROM customer),
prj AS (SELECT n_nationkey AS id, 'proj-' || n_name AS name FROM nation),
nte AS (SELECT r_regionkey AS id, 'note-' || r_name AS name FROM region),
r AS (
    SELECT l.task_id, l.pos, l.typ,
           con.name AS con_name, led.name AS led_name,
           opp.name AS opp_name, opp.org_id AS opp_org,
           org.name AS org_name, org2.name AS org2_name,
           prj.name AS prj_name, nte.name AS nte_name
    FROM lnk l
    LEFT JOIN con ON l.typ = 'Contact' AND l.lid = con.id
    LEFT JOIN led ON l.typ = 'Lead' AND l.lid = led.id
    LEFT JOIN opp ON l.typ = 'Opportunity' AND l.lid = opp.id
    LEFT JOIN org ON l.typ = 'Organisation' AND l.lid = org.id
    LEFT JOIN org AS org2 ON opp.org_id = org2.id
    LEFT JOIN prj ON l.typ = 'Project' AND l.lid = prj.id
    LEFT JOIN nte ON l.typ = 'Note' AND l.lid = nte.id
),
resolved AS (
    SELECT task_id,
        coalesce(arg_max(coalesce(con_name, ''), pos)
                 FILTER (WHERE typ = 'Contact'), '') AS lc,
        coalesce(arg_max(coalesce(led_name, ''), pos)
                 FILTER (WHERE typ = 'Lead'), '') AS ll,
        coalesce(arg_max(coalesce(opp_name, ''), pos)
                 FILTER (WHERE typ = 'Opportunity'), '') AS lo,
        coalesce(arg_max(
            CASE WHEN typ = 'Organisation' THEN coalesce(org_name, '')
                 ELSE coalesce(org2_name, '') END, pos)
            FILTER (WHERE typ = 'Organisation'
                    OR (typ = 'Opportunity' AND opp_org IS NOT NULL
                        AND opp_org != 0)), '') AS lg,
        coalesce(arg_max(coalesce(prj_name, ''), pos)
                 FILTER (WHERE typ = 'Project'), '') AS lp,
        coalesce(arg_max(coalesce(nte_name, ''), pos)
                 FILTER (WHERE typ = 'Note'), '') AS ln
    FROM r GROUP BY task_id
),
cat AS (SELECT r_regionkey AS id, r_name AS name FROM region),
usr AS (SELECT s_suppkey AS id,
               CAST(s_suppkey AS VARCHAR) || ';' || coalesce(s_name, '')
                   || ' ' || coalesce(CAST(s_nationkey AS VARCHAR), '') AS owner
        FROM supplier)
SELECT DISTINCT
    o.o_orderkey AS "TaskID",
    coalesce(cat.name, '') AS "Category",
    o.o_orderstatus AS "Status",
    CAST(o.o_orderkey % 100 AS DOUBLE) AS "Percent Complete",
    o.o_orderpriority AS "Priority",
    coalesce(usr.owner, '') AS "Owner Name",
    o.o_custkey % 10 AS "Assigned To Team",
    CASE WHEN o.o_orderkey % 7 = 0 THEN 'tbd'
         ELSE '01/' || {_DD} || '/2024' END AS "Date Assigned",
    CASE WHEN o.o_orderkey % 5 = 0 THEN 'n/a'
         ELSE '02/' || {_DD} || '/2024' END AS "Date Created",
    '' AS "Date Reminder",
    '03/' || {_DD} || '/2024' AS "Date Due",
    CASE WHEN o.o_orderstatus = 'F' THEN '04/' || {_DD} || '/2024'
         ELSE '' END AS "Date Completed",
    coalesce(res.lc, '') AS "Linked Contact",
    coalesce(res.ll, '') AS "Linked Lead",
    coalesce(res.lo, '') AS "Linked Opportunity",
    coalesce(res.lg, '') AS "Linked Organization",
    coalesce(res.lp, '') AS "Linked Project",
    coalesce(res.ln, '') AS "Linked Note"
FROM orders o
LEFT JOIN resolved res ON o.o_orderkey = res.task_id
LEFT JOIN cat ON o.o_custkey % 5 = cat.id
LEFT JOIN usr ON (o.o_custkey % 100) + 1 = usr.id
"""


@register(
    "task_export_pipeline",
    sql=_TASK_EXPORT_SQL,
    description="end-to-end task CRM export: LINKS arrays built from "
    "lineitems in deterministic (linenumber, partkey, suppkey) order, "
    "routed to 6 link-typed dims incl. the opportunity→organisation "
    "backfill, folded last-wins per type (Q5), owner/category joins and "
    "F3 date-or-passthrough formatting — the reference's hardest pipeline "
    "(task.py:121-275) under the oracle",
)
def task_export_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale posture matches exports.task_export: dims broadcast, the
    # LINKS build is one groupBy on the fact key, the Q5 fold is a
    # single partial-agg max_by — no ranking windows, no cartesians.
    orders = read_table_spread(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    part = read_table(spark, sf_dir, "part")

    typ = (
        F.when(F.col("l_partkey") % 6 == 0, "Contact")
        .when(F.col("l_partkey") % 6 == 1, "Lead")
        .when(F.col("l_partkey") % 6 == 2, "Opportunity")
        .when(F.col("l_partkey") % 6 == 3, "Organisation")
        .when(F.col("l_partkey") % 6 == 4, "Project")
        .otherwise("Note")
    )
    lid = (
        F.when(F.col("l_partkey") % 6 == 0, (F.col("l_partkey") % 1500) + 1)
        .when(F.col("l_partkey") % 6 == 1, F.col("l_suppkey") % 25)
        .when(F.col("l_partkey") % 6 == 2, F.col("l_partkey"))
        .when(
            F.col("l_partkey") % 6 == 3,
            F.when(F.col("l_suppkey") % 3 == 0, F.lit(999999)).otherwise(
                (F.col("l_suppkey") % 1500) + 1
            ),
        )
        .when(F.col("l_partkey") % 6 == 4, F.col("l_suppkey") % 25)
        .otherwise(F.col("l_suppkey") % 5)
    )
    sortable = F.struct(
        F.col("l_linenumber").alias("a"),
        F.col("l_partkey").alias("b"),
        F.col("l_suppkey").alias("c"),
        typ.alias("t"),
        lid.cast("long").alias("i"),
    )
    links = (
        lineitem.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list(sortable)).alias("_s"))
        .select(
            "l_orderkey",
            F.transform(
                "_s",
                lambda s: F.struct(
                    s["t"].alias("LINK_OBJECT_NAME"),
                    s["i"].alias("LINK_OBJECT_ID"),
                ),
            ).alias("LINKS"),
        )
    )
    dd = F.lpad(((F.col("o_orderkey") % 28) + 1).cast("string"), 2, "0")
    iso = lambda mm: F.concat(F.lit(f"2024-{mm}-"), dd, F.lit(" 10:00:00"))  # noqa: E731
    tasks = orders.join(
        links, orders["o_orderkey"] == links["l_orderkey"], "left"
    ).select(
        F.col("o_orderkey").alias("TASK_ID"),
        (F.col("o_custkey") % 5).alias("CATEGORY_ID"),
        F.col("o_orderstatus").alias("STATUS"),
        (F.col("o_orderkey") % 100).cast("double").alias("PERCENT_COMPLETE"),
        F.col("o_orderpriority").alias("PRIORITY"),
        ((F.col("o_custkey") % 100) + 1).alias("OWNER_USER_ID"),
        (F.col("o_custkey") % 10).alias("ASSIGNED_TEAM_ID"),
        F.when(F.col("o_orderkey") % 7 == 0, "tbd").otherwise(iso("01")).alias(
            "ASSIGNED_DATE_UTC"
        ),
        F.when(F.col("o_orderkey") % 5 == 0, "n/a").otherwise(iso("02")).alias(
            "DATE_CREATED_UTC"
        ),
        F.lit("").alias("REMINDER_DATE_UTC"),
        iso("03").alias("DUE_DATE"),
        F.when(F.col("o_orderstatus") == "F", iso("04")).otherwise("").alias(
            "COMPLETED_DATE_UTC"
        ),
        F.col("LINKS"),
    )
    return X.task_export(
        tasks=tasks,
        categories=region.select(
            F.col("r_regionkey").alias("CATEGORY_ID"),
            F.col("r_name").alias("CATEGORY_NAME"),
        ),
        users=supplier.select(
            F.col("s_suppkey").alias("USER_ID"),
            F.col("s_name").alias("FIRST_NAME"),
            F.col("s_nationkey").cast("string").alias("LAST_NAME"),
        ),
        contacts=customer.select(
            F.col("c_custkey").alias("CONTACT_ID"),
            F.col("c_name").alias("FIRST_NAME"),
            F.col("c_mktsegment").alias("LAST_NAME"),
        ),
        leads=nation.select(
            F.col("n_nationkey").alias("LEAD_ID"),
            F.col("n_name").alias("FIRST_NAME"),
            F.lit("lead").alias("LAST_NAME"),
        ),
        opportunities=part.select(
            F.col("p_partkey").alias("OPPORTUNITY_ID"),
            F.col("p_name").alias("OPPORTUNITY_NAME"),
            F.when(F.col("p_partkey") % 5 == 0, F.lit(0))
            .otherwise((F.col("p_partkey") % 1500) + 1)
            .alias("ORGANISATION_ID"),
        ),
        organisations=customer.select(
            F.col("c_custkey").alias("ORGANISATION_ID"),
            F.col("c_name").alias("ORGANISATION_NAME"),
        ),
        projects=nation.select(
            F.col("n_nationkey").alias("PROJECT_ID"),
            F.concat(F.lit("proj-"), F.col("n_name")).alias("PROJECT_NAME"),
        ),
        notes=region.select(
            F.col("r_regionkey").alias("NOTE_ID"),
            F.concat(F.lit("note-"), F.col("r_name")).alias("TITLE"),
        ),
        broadcast_dims=False,
    )


# ---------------------------------------------------------------------------
# opportunity export (the flagship: J4-J9, fan-out J8, Q2 duplicate
# column, P5 flags, LAST_WIN custom fields, try_cast join keys)

_ODD = "lpad(CAST(o_orderkey % 28 + 1 AS VARCHAR), 2, '0')"

_OPP_EXPORT_SQL = f"""
WITH o AS (
    SELECT o_orderkey AS opp_id, o_custkey,
           CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_custkey END AS org_id,
           (o_custkey % 100) + 1 AS owner_id,
           o_orderkey % 6 AS stage_id,
           o_orderkey % 4 AS rsn_id,
           o_orderkey % 3 AS pbk_id,
           CASE o_orderkey % 3 WHEN 0 THEN 'WON' WHEN 1 THEN 'OPEN'
                ELSE 'LOST' END AS state,
           o_totalprice AS value,
           CAST(o_orderkey % 100 AS DOUBLE) AS probability
    FROM orders
),
ppo AS (
    SELECT l_orderkey AS opp, unnest(list_sort(list(l_partkey))) AS pid
    FROM lineitem GROUP BY l_orderkey
),
site AS (
    SELECT lk.opp,
           string_agg(c.c_name, ' and '
                      ORDER BY lk.lid, c.c_custkey, c.c_name) AS site_name
    FROM (SELECT l_orderkey AS opp, (l_suppkey % 1500) + 1 AS lid
          FROM lineitem WHERE l_suppkey % 2 = 0) lk
    JOIN customer c ON lk.lid = c.c_custkey
    JOIN o ON o.opp_id = lk.opp
    WHERE CAST(lk.lid AS VARCHAR)
          != coalesce(CAST(o.org_id AS VARCHAR), '')
    GROUP BY lk.opp
),
usr AS (SELECT s_suppkey AS id,
               CAST(s_suppkey AS VARCHAR) || ';' || coalesce(s_name, '')
                   || ' ' || coalesce(CAST(s_nationkey AS VARCHAR), '') AS owner
        FROM supplier)
SELECT DISTINCT
    CAST(o.opp_id AS VARCHAR) AS "Opportunity ID",
    'Opp ' || CAST(o.opp_id AS VARCHAR) AS "Opportunity Name",
    coalesce(ent.c_name, '') AS "Entity Owning Equipment",
    coalesce(site.site_name, '') AS "Site Name",
    CASE WHEN o.opp_id % 13 = 0 THEN ''
         ELSE coalesce(chan.c_name, '') END AS "Channel Partner",
    '2024-01-' || {_ODD.replace('o_orderkey', 'o.opp_id')} || ' 08:00:00' AS "Date Created",
    '2024-02-' || {_ODD.replace('o_orderkey', 'o.opp_id')} || ' 08:00:00' AS "Date Closed (Forecast)",
    '2024-03-' || {_ODD.replace('o_orderkey', 'o.opp_id')} || ' 08:00:00' AS "Date Closed (Actual)",
    o.value AS "Opportunity Value",
    CASE WHEN o.opp_id % 2 = 0 THEN 'USD' ELSE 'EUR' END AS "Bid Currency",
    o.state AS "Opportunity State",
    coalesce('stage-' || stg.n_name, '') AS "Current Pipeline Stage",
    o.value AS "Expected Revenue",
    '2024-04-' || {_ODD.replace('o_orderkey', 'o.opp_id')} || ' 08:00:00' AS "Date of Last Activity",
    '2024-05-' || {_ODD.replace('o_orderkey', 'o.opp_id')} || ' 08:00:00' AS "Date of Next Activity",
    o.probability AS "Probability",
    coalesce('reason-' || rsn.r_name, '') AS "State Reason",
    CASE WHEN o.state = 'WON' THEN 'TRUE' ELSE 'FALSE' END AS "Won",
    CASE o.opp_id % 4 WHEN 0 THEN 'FALSE' WHEN 1 THEN 'NONE'
         WHEN 2 THEN 'YES' ELSE 'NO' END AS "Trial?",
    CAST(o.opp_id % 9 AS VARCHAR) AS "Opportunity Product Quantity",
    coalesce('pb-' || pbk.r_name, '') AS "Pricebook Name",
    coalesce(usr.owner, '') AS "Opportunity Owner",
    CASE WHEN ppo.pid IS NOT NULL
         THEN 'fam-' || CAST(ppo.pid % 7 AS VARCHAR) ELSE '' END
        AS "Product Family",
    'type-' || CAST(o.opp_id % 3 AS VARCHAR)
        AS "Archived Field - Product Type ",
    coalesce(CAST(ppo.pid AS VARCHAR), '') AS "Product ID",
    coalesce(morg.c_name, '') AS "Organization Name",
    CASE WHEN usr.owner IS NULL OR usr.owner = '' THEN ''
         ELSE trim(regexp_replace(split_part(usr.owner, ';', 2),
                                  '[\r\n]', ' ', 'g')) END AS "Owner Name",
    CASE WHEN o.opp_id % 2 = 0 THEN 'direct' ELSE 'partner' END
        AS "Channel Type",
    'gap-' || CAST(o.opp_id % 5 AS VARCHAR) AS "GAP Strategy",
    'state-' || CAST(o.opp_id % 7 AS VARCHAR) AS "GAP Current State",
    'INV-' || CAST(o.opp_id AS VARCHAR) AS "Invoice Number",
    CASE WHEN o.opp_id % 9 = 0 THEN ''
         ELSE 'PO-' || CAST(o.o_custkey AS VARCHAR) END AS "Purchase Order"
FROM o
LEFT JOIN customer morg ON o.org_id = morg.c_custkey
LEFT JOIN customer ent ON (o.o_custkey % 1500) + 1 = ent.c_custkey
LEFT JOIN customer chan
       ON o.opp_id % 13 != 0 AND (o.o_custkey % 700) + 1 = chan.c_custkey
LEFT JOIN usr ON o.owner_id = usr.id
LEFT JOIN (SELECT n_nationkey AS id, n_name FROM nation WHERE n_nationkey < 6) stg
       ON o.stage_id = stg.id
LEFT JOIN (SELECT r_regionkey AS id, r_name FROM region WHERE r_regionkey < 4) rsn
       ON o.rsn_id = rsn.id
LEFT JOIN (SELECT r_regionkey AS id, r_name FROM region WHERE r_regionkey < 3) pbk
       ON o.pbk_id = pbk.id
LEFT JOIN ppo ON o.opp_id = ppo.opp
LEFT JOIN site ON o.opp_id = site.opp
"""


@register(
    "opportunity_export_pipeline",
    sql=_OPP_EXPORT_SQL,
    description="end-to-end opportunity CRM export (the flagship, "
    "opportunity.py:122-258): LAST_WIN custom-field map with duplicate "
    "keys and present-null Trial values, try_cast org-role join keys, "
    "multi-hop J7 product lists, J8 explode_outer fan-out, J9 site-name "
    "array join excluding the main org, Q2 duplicate revenue column — "
    "all under the oracle",
)
def opportunity_export_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale posture matches exports.opportunity_export: every dim
    # broadcast, J7 is one groupBy on the fact key, the fan-out is
    # explode_outer (no join multiplication beyond real products).
    orders = read_table_spread(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    part = read_table(spark, sf_dir, "part")

    k = F.col("o_orderkey")
    dd = F.lpad(((k % 28) + 1).cast("string"), 2, "0")
    iso = lambda mm: F.concat(F.lit(f"2024-{mm}-"), dd, F.lit(" 08:00:00"))  # noqa: E731

    def e(name, value):
        return _entry(name, value)

    null_str = F.lit(None).cast("string")
    base_cf = F.array(
        e("Quantity__c", "X"),  # duplicate key: LAST_WIN must drop this
        e("Entity_Owning_Equipment__c", ((F.col("o_custkey") % 1500) + 1).cast("string")),
        e(
            "Channel_Owner__c",
            F.when(k % 13 == 0, F.lit("nan")).otherwise(
                ((F.col("o_custkey") % 700) + 1).cast("string")
            ),
        ),
        e("Quantity__c", (k % 9).cast("string")),
        e("Product_Type__c", F.concat(F.lit("type-"), (k % 3).cast("string"))),
        e("Channel_Type__c", F.when(k % 2 == 0, "direct").otherwise("partner")),
        e("GAP_Strategy__c", F.concat(F.lit("gap-"), (k % 5).cast("string"))),
        e("Current_State__c", F.concat(F.lit("state-"), (k % 7).cast("string"))),
        e("Invoice_Number__c", F.concat(F.lit("INV-"), k.cast("string"))),
        e(
            "Purchase_Order__c",
            F.when(k % 9 == 0, null_str).otherwise(
                F.concat(F.lit("PO-"), F.col("o_custkey").cast("string"))
            ),
        ),
    )
    cf = F.when(k % 4 == 0, base_cf).otherwise(
        F.concat(
            base_cf,
            F.array(
                e(
                    "Trial__c",
                    F.when(k % 4 == 1, null_str)
                    .when(k % 4 == 2, F.lit("yes"))
                    .otherwise(F.lit("no")),
                )
            ),
        )
    )
    opportunities = orders.select(
        k.alias("OPPORTUNITY_ID"),
        # newline inside the name exercises F1 clean_text
        F.concat(F.lit("Opp"), F.lit("\n"), k.cast("string")).alias(
            "OPPORTUNITY_NAME"
        ),
        F.when(k % 11 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("o_custkey"))
        .alias("ORGANISATION_ID"),
        ((F.col("o_custkey") % 100) + 1).alias("OWNER_USER_ID"),
        (k % 6).alias("STAGE_ID"),
        (k % 4).alias("STATE_REASON_ID"),
        (k % 3).alias("PRICEBOOK_ID"),
        iso("01").alias("DATE_CREATED_UTC"),
        iso("02").alias("FORECAST_CLOSE_DATE"),
        iso("03").alias("ACTUAL_CLOSE_DATE"),
        F.col("o_totalprice").alias("OPPORTUNITY_VALUE"),
        F.when(k % 2 == 0, "USD").otherwise("EUR").alias("BID_CURRENCY"),
        F.when(k % 3 == 0, "WON")
        .when(k % 3 == 1, "OPEN")
        .otherwise("LOST")
        .alias("OPPORTUNITY_STATE"),
        iso("04").alias("LAST_ACTIVITY_DATE_UTC"),
        iso("05").alias("NEXT_ACTIVITY_DATE_UTC"),
        (k % 100).cast("double").alias("PROBABILITY"),
        cf.alias("CUSTOMFIELDS"),
    )
    opportunity_links = lineitem.filter(F.col("l_suppkey") % 2 == 0).select(
        F.lit("Opportunity").alias("OBJECT_NAME"),
        F.col("l_orderkey").alias("OBJECT_ID"),
        F.lit("Organisation").alias("LINK_OBJECT_NAME"),
        ((F.col("l_suppkey") % 1500) + 1).alias("LINK_OBJECT_ID"),
    )
    return X.opportunity_export(
        opportunities=opportunities,
        organisations=customer.select(
            F.col("c_custkey").alias("ORGANISATION_ID"),
            F.col("c_name").alias("ORGANISATION_NAME"),
        ),
        users=supplier.select(
            F.col("s_suppkey").alias("USER_ID"),
            F.col("s_name").alias("FIRST_NAME"),
            F.col("s_nationkey").cast("string").alias("LAST_NAME"),
        ),
        pricebooks=region.filter(F.col("r_regionkey") < 3).select(
            F.col("r_regionkey").alias("PRICEBOOK_ID"),
            F.concat(F.lit("pb-"), F.col("r_name")).alias("NAME"),
        ),
        products=part.select(
            F.col("p_partkey").alias("PRODUCT_ID"),
            F.concat(F.lit("fam-"), (F.col("p_partkey") % 7).cast("string")).alias(
                "PRODUCT_FAMILY"
            ),
        ),
        state_reasons=region.filter(F.col("r_regionkey") < 4).select(
            F.col("r_regionkey").alias("STATE_REASON_ID"),
            F.concat(F.lit("reason-"), F.col("r_name")).alias("STATE_REASON"),
        ),
        stages=nation.filter(F.col("n_nationkey") < 6).select(
            F.col("n_nationkey").alias("STAGE_ID"),
            F.concat(F.lit("stage-"), F.col("n_name")).alias("STAGE_NAME"),
        ),
        pricebook_entries=part.select(
            F.col("p_partkey").alias("PRICEBOOK_ENTRY_ID"),
            F.col("p_partkey").alias("PRODUCT_ID"),
        ),
        line_items=lineitem.select(
            F.col("l_orderkey").alias("OPPORTUNITY_ID"),
            F.col("l_partkey").alias("PRICEBOOK_ENTRY_ID"),
        ),
        opportunity_links=opportunity_links,
        broadcast_dims=False,
    )


# ---------------------------------------------------------------------------
# invoice export (J13 struct-payload org dim x3 roles, Q1 effective site
# key, Q4 owner passthrough, F4 date-or-passthrough)

_INV_DD = "lpad(CAST(o_orderkey % 28 + 1 AS VARCHAR), 2, '0')"

_INV_EXPORT_SQL = f"""
WITH org AS (
    SELECT c_custkey AS id, c_name AS name,
           CASE WHEN c_acctbal < 0 THEN 'debtor' ELSE 'credit' END AS otype,
           c_mktsegment AS oregion
    FROM customer
),
usr AS (SELECT s_suppkey AS id,
               CAST(s_suppkey AS VARCHAR) || ';' || coalesce(s_name, '')
                   || ' ' || coalesce(CAST(s_nationkey AS VARCHAR), '') AS owner
        FROM supplier)
SELECT DISTINCT
    'Inv-' || CAST(o.o_orderkey AS VARCHAR) AS "Invoice Number",
    o.o_orderkey AS "Record ID",
    coalesce(usr.owner, '') AS "Owner",
    CASE WHEN o.o_orderkey % 7 = 0 THEN 'soon'
         ELSE {_INV_DD} || '/01/2024' END AS "Invoice Date",
    'item-' || CAST(o.o_orderkey % 50 AS VARCHAR) AS "Item ID",
    CAST(CAST(round(o.o_totalprice * 100) AS BIGINT) AS VARCHAR)
        AS "Invoiced Amount",
    CASE o.o_orderkey % 3 WHEN 0 THEN 'USD' WHEN 1 THEN 'EUR'
         ELSE 'CAD' END AS "Invoice Currency",
    'PO-' || CAST(o.o_custkey AS VARCHAR) AS "PO Number",
    CAST(o.o_orderkey % 12 AS VARCHAR) AS "Item Quantity",
    'pt-' || CAST(o.o_orderkey % 4 AS VARCHAR) AS "Product Type",
    'eq-' || CAST(o.o_orderkey % 5 AS VARCHAR) AS "Equipment Type",
    coalesce(inv.name, '') AS "Entity Owning Equipment",
    coalesce(inv.otype, '') AS "Organization Type",
    coalesce(inv.oregion, '') AS "Region",
    coalesce(site.name, '') AS "Site Name",
    coalesce(site.otype, '') AS "Organization Type_1",
    coalesce(site.oregion, '') AS "Region_2",
    CASE WHEN o.o_orderkey % 13 = 0 THEN ''
         ELSE coalesce(chan.name, '') END AS "Channel Partner",
    CASE WHEN o.o_orderkey % 13 = 0 THEN ''
         ELSE coalesce(chan.otype, '') END AS "Organization Type_3",
    CASE WHEN o.o_orderkey % 13 = 0 THEN ''
         ELSE coalesce(chan.oregion, '') END AS "Region_4",
    CAST(o.o_orderkey AS VARCHAR) AS "Invoice #",
    CAST(o.o_orderkey % 1000 AS VARCHAR) AS "Invoiced Amount in CAD"
FROM orders o
LEFT JOIN usr ON (o.o_custkey % 100) + 1 = usr.id
LEFT JOIN org inv ON o.o_custkey = inv.id
-- Q1: the effective site key is Site_Name_Invoice__c, NOT the decoy
LEFT JOIN org site ON ((o.o_custkey + 7) % 1500) + 1 = site.id
LEFT JOIN org chan
       ON o.o_orderkey % 13 != 0 AND (o.o_custkey % 700) + 1 = chan.id
"""


@register(
    "invoice_export_pipeline",
    sql=_INV_EXPORT_SQL,
    description="end-to-end invoice CRM export: struct-payload org dim "
    "(name + custom-field type/region) joined in three roles, the Q1 "
    "effective-site-key overwrite (decoy Site_Organization__c present but "
    "unused), Q4 owner composite passthrough, F4 date-or-passthrough — "
    "under the oracle (invoice.py:162-206)",
)
def invoice_export_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale posture matches exports.invoice_export: one fact scan,
    # three aliased broadcast probes of the same struct dim, no
    # exchange beyond the output dedup.
    orders = read_table_spread(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")

    k = F.col("o_orderkey")
    dd = F.lpad(((k % 28) + 1).cast("string"), 2, "0")
    cf = F.array(
        _entry("Invoiced_Organization__c", F.col("o_custkey").cast("string")),
        # Q1 decoy: present in the data, must never reach the output
        _entry("Site_Organization__c", ((F.col("o_custkey") % 1500) + 1).cast("string")),
        _entry("Site_Name_Invoice__c", (((F.col("o_custkey") + 7) % 1500) + 1).cast("string")),
        _entry(
            "Channel_Partner_Invoiced__c",
            F.when(k % 13 == 0, F.lit("x")).otherwise(
                ((F.col("o_custkey") % 700) + 1).cast("string")
            ),
        ),
        _entry(
            "Invoice_Date__c",
            F.when(k % 7 == 0, F.lit("soon")).otherwise(
                F.concat(F.lit("2024-01-"), dd, F.lit(" 00:00:00"))
            ),
        ),
        _entry("Invoiced_Item__c", F.concat(F.lit("item-"), (k % 50).cast("string"))),
        _entry(
            "Invoiced_Amount__c",
            F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
        ),
        _entry(
            "Invoice_Currency__c",
            F.when(k % 3 == 0, "USD").when(k % 3 == 1, "EUR").otherwise("CAD"),
        ),
        _entry("PO_Number__c", F.concat(F.lit("PO-"), F.col("o_custkey").cast("string"))),
        _entry("Item_Quantity__c", (k % 12).cast("string")),
        _entry("Invoiced_Product_Type__c", F.concat(F.lit("pt-"), (k % 4).cast("string"))),
        _entry(
            "Invoiced_Product_for_Equipment_Type__c",
            F.concat(F.lit("eq-"), (k % 5).cast("string")),
        ),
        _entry("Invoice_Num__c", k.cast("string")),
        _entry("Invoiced_Amount_in_CAD__c", (k % 1000).cast("string")),
    )
    invoices = orders.select(
        F.concat(F.lit("Inv-"), k.cast("string")).alias("RECORD_NAME"),
        k.alias("RECORD_ID"),
        ((F.col("o_custkey") % 100) + 1).alias("OWNER_USER_ID"),
        cf.alias("CUSTOMFIELDS"),
    )
    org_cf = F.array(
        _entry(
            "Organization_Type__c",
            F.when(F.col("c_acctbal") < 0, "debtor").otherwise("credit"),
        ),
        _entry("Region__c", F.col("c_mktsegment")),
    )
    return X.invoice_export(
        invoices=invoices,
        users=supplier.select(
            F.col("s_suppkey").alias("USER_ID"),
            F.col("s_name").alias("FIRST_NAME"),
            F.col("s_nationkey").cast("string").alias("LAST_NAME"),
        ),
        organisations=customer.select(
            F.col("c_custkey").alias("ORGANISATION_ID"),
            F.col("c_name").alias("ORGANISATION_NAME"),
            org_cf.alias("CUSTOMFIELDS"),
        ),
        broadcast_dims=False,
    )


# ---------------------------------------------------------------------------
# equipment export (J14 lookups, F7 'Name||ID||User' key, Q3 str(None))

_EQ_EXPORT_SQL = """
WITH usr AS (
    SELECT s_suppkey AS id,
           CAST(s_suppkey AS VARCHAR) || ';' || coalesce(s_name, '')
               || ' ' || coalesce(CAST(s_nationkey AS VARCHAR), '') AS owner
    FROM supplier
),
org AS (SELECT c_custkey AS id, c_name AS name FROM customer)
SELECT DISTINCT
    o.o_orderkey AS "Record ID",
    'Equip-' || CAST(o.o_orderkey AS VARCHAR) AS "Equipment Mine - Make - Model",
    coalesce(usr.owner, '') AS "Owner",
    '2024-01-' || lpad(CAST(o.o_orderkey % 28 + 1 AS VARCHAR), 2, '0')
        || ' 07:00:00' AS "Date Created",
    '2024-02-' || lpad(CAST(o.o_orderkey % 28 + 1 AS VARCHAR), 2, '0')
        || ' 07:00:00' AS "Date Updated",
    CASE o.o_orderkey % 4 WHEN 0 THEN '' WHEN 1 THEN 'None'
         ELSE CAST(o.o_custkey AS VARCHAR) END AS "Record ID_1",
    CASE WHEN o.o_orderkey % 4 IN (2, 3)
         THEN coalesce(ent.name, '') ELSE '' END AS "Entity Owning Equipment",
    CASE WHEN usr.owner IS NULL OR usr.owner = '' THEN ''
         ELSE split_part(usr.owner, ';', 2) || '||'
              || split_part(usr.owner, ';', 1) || '||User' END AS "Organization",
    CASE WHEN o.o_orderkey % 3 = 0 THEN 'None'
         ELSE CAST((o.o_custkey % 1500) + 1 AS VARCHAR) END AS "Record ID_2",
    CASE WHEN o.o_orderkey % 3 != 0
         THEN coalesce(site.name, '') ELSE '' END AS "Site Name",
    CASE WHEN usr.owner IS NULL OR usr.owner = '' THEN ''
         ELSE split_part(usr.owner, ';', 2) || '||'
              || split_part(usr.owner, ';', 1) || '||User' END
        AS "Organization Owner_3",
    'et-' || CAST(o.o_orderkey % 4 AS VARCHAR) AS "Equipment Type",
    'mk-' || CAST(o.o_orderkey % 6 AS VARCHAR) AS "Equipment Make",
    'md-' || CAST(o.o_orderkey % 9 AS VARCHAR) AS "Equipment Model",
    CAST(o.o_orderkey % 7 AS VARCHAR) AS "Equipment Quantity",
    'sn-' || CAST(o.o_orderkey % 100 AS VARCHAR) AS "Serial Number Notes",
    '2024-06-' || lpad(CAST(o.o_orderkey % 28 + 1 AS VARCHAR), 2, '0')
        AS "Last_Date_of_Equipment_Details_Confirmed__c"
FROM orders o
LEFT JOIN usr ON o.o_orderkey % 17 != 0 AND (o.o_custkey % 100) + 1 = usr.id
LEFT JOIN org ent ON o.o_orderkey % 4 IN (2, 3) AND o.o_custkey = ent.id
LEFT JOIN org site
       ON o.o_orderkey % 3 != 0 AND (o.o_custkey % 1500) + 1 = site.id
"""


@register(
    "equipment_export_pipeline",
    sql=_EQ_EXPORT_SQL,
    description="end-to-end equipment CRM export: J14 lookup joins on "
    "try_cast custom-field keys, the F7 'Name||ID||User' composite built "
    "by re-splitting the 'ID;Name' owner, and Q3 str(None) semantics "
    "(missing key → '', present-null → literal 'None') — under the "
    "oracle (equiment.py:136-168)",
)
def equipment_export_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale posture matches exports.equipment_export: one fact scan +
    # three broadcast probes; no exchange beyond the output dedup.
    orders = read_table_spread(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")

    k = F.col("o_orderkey")
    dd = F.lpad(((k % 28) + 1).cast("string"), 2, "0")
    null_str = F.lit(None).cast("string")
    cf = F.concat(
        F.when(
            k % 4 == 0, F.array().cast("array<struct<FIELD_NAME:string,FIELD_VALUE:string>>")
        ).otherwise(
            F.array(
                _entry(
                    "Entity_Owning_Equipment_Equipment__c",
                    F.when(k % 4 == 1, null_str).otherwise(
                        F.col("o_custkey").cast("string")
                    ),
                )
            )
        ),
        F.array(
            _entry(
                "Site_Name_Equipment__c",
                F.when(k % 3 == 0, null_str).otherwise(
                    ((F.col("o_custkey") % 1500) + 1).cast("string")
                ),
            ),
            _entry("Equipment_Type_Equipment__c", F.concat(F.lit("et-"), (k % 4).cast("string"))),
            _entry("Equipment_Make_Equipment__c", F.concat(F.lit("mk-"), (k % 6).cast("string"))),
            _entry("Equipment_Model_Equipment__c", F.concat(F.lit("md-"), (k % 9).cast("string"))),
            _entry("Equipment_Quantity_Equipment__c", (k % 7).cast("string")),
            _entry("Serial_Number_Notes__c", F.concat(F.lit("sn-"), (k % 100).cast("string"))),
            _entry(
                "Last_Date_of_Equipment_Details_Confirmed__c",
                F.concat(F.lit("2024-06-"), dd),
            ),
        ),
    )
    equipment = orders.select(
        k.alias("RECORD_ID"),
        F.concat(F.lit("Equip-"), k.cast("string")).alias("RECORD_NAME"),
        F.when(k % 17 == 0, F.lit(9999999))
        .otherwise((F.col("o_custkey") % 100) + 1)
        .alias("OWNER_USER_ID"),
        F.concat(F.lit("2024-01-"), dd, F.lit(" 07:00:00")).alias("DATE_CREATED_UTC"),
        F.concat(F.lit("2024-02-"), dd, F.lit(" 07:00:00")).alias("DATE_UPDATED_UTC"),
        cf.alias("CUSTOMFIELDS"),
    )
    return X.equipment_export(
        equipment=equipment,
        users=supplier.select(
            F.col("s_suppkey").alias("USER_ID"),
            F.col("s_name").alias("FIRST_NAME"),
            F.col("s_nationkey").cast("string").alias("LAST_NAME"),
        ),
        organisations=customer.select(
            F.col("c_custkey").alias("ORGANISATION_ID"),
            F.col("c_name").alias("ORGANISATION_NAME"),
        ),
        broadcast_dims=False,
    )
