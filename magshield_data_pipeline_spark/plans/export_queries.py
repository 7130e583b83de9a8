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
The builders write their projections as SQL expression text, as the
exports do, so building an input costs one JVM parse per projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magshield_data_pipeline_spark import exports as X
from magshield_data_pipeline_spark.functions.scalars import sql_lit
from magshield_data_pipeline_spark.plans.registry import register
from magshield_data_pipeline_spark.sources.parquet import (
    read_table,
    read_table_spread,
)

# ---------------------------------------------------------------------------
# CRM-shaped input, written as SQL expression text (one JVM parse per
# projection, as in exports.py)


def _field(name: str, value: str) -> str:
    """One CUSTOMFIELDS entry: the field *name* and its *value* text."""
    return f"struct({sql_lit(name)} AS FIELD_NAME, {value} AS FIELD_VALUE)"


def _fields(*entries: str) -> str:
    return f"array({', '.join(entries)})"


_NO_FIELDS = "CAST(array() AS ARRAY<STRUCT<FIELD_NAME: STRING, FIELD_VALUE: STRING>>)"
_NULL_STR = "CAST(NULL AS STRING)"
# the day of month 01-28 every fixture date string derives from its key
_DAY = "lpad(CAST(o_orderkey % 28 + 1 AS STRING), 2, '0')"
# the dims the supplier / customer tables stand in for
_SUPPLIER_USERS = ("s_suppkey AS USER_ID", "s_name AS FIRST_NAME",
                   "CAST(s_nationkey AS STRING) AS LAST_NAME")
_CUSTOMER_ORGS = ("c_custkey AS ORGANISATION_ID", "c_name AS ORGANISATION_NAME")

# ---------------------------------------------------------------------------
# organisation export (P1 map build, P5 truthiness, F1 clean_text,
# F3 date-or-passthrough, F9 conditional link count, A4 formatted dedup)


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
        nation.join(region, F.expr("n_regionkey = r_regionkey")).select(
            "n_nationkey", "n_name", "r_name"
        )
    )
    link_name = ("CASE WHEN o_orderstatus = 'F' THEN 'Contact' "
                 "WHEN o_orderstatus = 'O' THEN 'Opportunity' ELSE 'Organisation' END")
    links = orders.groupBy("o_custkey").agg(F.expr(
        f"collect_list(struct({link_name} AS LINK_OBJECT_NAME, "
        "o_orderkey AS LINK_OBJECT_ID)) AS LINKS"
    ))
    base_cf = _fields(
        _field("Call_Frequency__c", "'weekly'"),
        _field("Region__c", "r_name"),
        _field("Call_Frequency__c", "c_mktsegment"),
        _field("Organization_Type__c",
               "CASE WHEN c_acctbal < 0 THEN 'debtor' ELSE 'credit' END"),
    )
    active = _field("Active__c", "CASE WHEN c_mktsegment = 'BUILDING' THEN '' ELSE 'yes' END")
    orgs = (
        customer.join(geo, F.expr("c_nationkey = n_nationkey"))
        .join(links, F.expr("c_custkey = o_custkey"), "left")
        .selectExpr(
            "c_custkey AS ORGANISATION_ID",
            r"concat(c_name, '\n', c_mktsegment) AS ORGANISATION_NAME",
            "CASE WHEN c_custkey % 7 = 0 THEN 'never-created' ELSE concat('2024-01-', "
            "lpad(CAST(c_custkey % 28 + 1 AS STRING), 2, '0'), ' 10:30:00') END "
            "AS DATE_CREATED_UTC",
            "LINKS",
            f"CASE WHEN c_custkey % 2 = 0 THEN concat({base_cf}, {_fields(active)}) "
            f"ELSE {base_cf} END AS CUSTOMFIELDS",
            "n_name AS ADDRESS_BILLING_COUNTRY",
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

    sales_person = (
        f"CASE WHEN o_orderkey % 5 = 0 THEN {_fields(_field('Sales_Person__c', _NULL_STR))} "
        f"WHEN o_orderkey % 5 = 1 THEN {_NO_FIELDS} "
        f"ELSE {_fields(_field('Sales_Person__c', 'CAST(o_custkey AS STRING)'))} END"
    )
    override = "concat('override-', CAST(o_orderkey AS STRING))"
    grand_total = (
        f"CASE WHEN o_orderkey % 3 = 1 THEN {_fields(_field('Grand_Total__c', sql_lit('')))} "
        f"WHEN o_orderkey % 3 = 2 THEN {_fields(_field('Grand_Total__c', override))} "
        f"ELSE {_NO_FIELDS} END"
    )
    gst = _fields(_field("GST_Percentage__c", "'10'"))
    quotes = orders.selectExpr(
        "o_orderkey AS QUOTE_ID",
        "concat('Q-', CAST(o_orderkey AS STRING)) AS QUOTATION_NUMBER",
        "o_orderstatus AS QUOTE_STATUS",
        "o_orderpriority AS QUOTATION_NAME",
        "o_totalprice AS SUBTOTAL",
        "o_totalprice AS TOTAL_PRICE",
        "date_format(o_orderdate, 'yyyy-MM-dd') AS QUOTATION_EXPIRATION_DATE",
        "format_string('%.2f', o_totalprice) AS GRAND_TOTAL",
        f"concat({sales_person}, {grand_total}, {gst}) AS CUSTOMFIELDS",
        "'AU' AS ADDRESS_BILLING_COUNTRY",
        "'USD' AS QUOTATION_CURRENCY_CODE",
        "CAST(0.05 AS DOUBLE) AS DISCOUNT",
        "CASE WHEN o_orderkey % 4 = 0 THEN concat('Inline-', CAST(o_custkey AS STRING)) "
        "ELSE '' END AS ORGANISATION_NAME",
        "o_orderkey % 17 + 1 AS ORGANISATION_ID",
        "date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss') AS DATE_CREATED_UTC",
        "date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss') AS DATE_UPDATED_UTC",
        "'' AS OPPORTUNITY_NAME",
        "o_custkey AS OPPORTUNITY_ID",
        f"{_NULL_STR} AS ADDRESS_SHIPPING_COUNTRY",
    )
    opportunities = customer.selectExpr("c_custkey AS OPPORTUNITY_ID", "c_name AS OPPORTUNITY_NAME")
    organisations = supplier.selectExpr("s_suppkey AS ORGANISATION_ID", "s_name AS ORGANISATION_NAME")
    contacts = customer.selectExpr(
        "c_custkey AS CONTACT_ID", "c_name AS FIRST_NAME", f"{_NULL_STR} AS LAST_NAME"
    )
    # dims derive from customer/supplier (scale with SF) — per exports.py's
    # dim-size contract, no forced broadcast: AQE decides
    return X.quote_export(
        quotes, opportunities, organisations, contacts, broadcast_dims=False
    )


# ---------------------------------------------------------------------------
# task export (J10-J11, Q5 order-sensitive last-wins fold, F3 dates)

# the oracle twins' spelling of _DAY
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
        "CASE WHEN l_partkey % 6 = 0 THEN 'Contact' WHEN l_partkey % 6 = 1 THEN 'Lead' "
        "WHEN l_partkey % 6 = 2 THEN 'Opportunity' WHEN l_partkey % 6 = 3 THEN 'Organisation' "
        "WHEN l_partkey % 6 = 4 THEN 'Project' ELSE 'Note' END"
    )
    lid = (
        "CASE WHEN l_partkey % 6 = 0 THEN l_partkey % 1500 + 1 "
        "WHEN l_partkey % 6 = 1 THEN l_suppkey % 25 "
        "WHEN l_partkey % 6 = 2 THEN l_partkey "
        "WHEN l_partkey % 6 = 3 THEN "
        "CASE WHEN l_suppkey % 3 = 0 THEN 999999 ELSE l_suppkey % 1500 + 1 END "
        "WHEN l_partkey % 6 = 4 THEN l_suppkey % 25 ELSE l_suppkey % 5 END"
    )
    sortable = (f"struct(l_linenumber AS a, l_partkey AS b, l_suppkey AS c, "
                f"{typ} AS t, CAST({lid} AS BIGINT) AS i)")
    links = (
        lineitem.groupBy("l_orderkey")
        .agg(F.expr(f"array_sort(collect_list({sortable})) AS _s"))
        .selectExpr(
            "l_orderkey",
            "transform(_s, s -> struct(s.t AS LINK_OBJECT_NAME, s.i AS LINK_OBJECT_ID)) AS LINKS",
        )
    )
    iso = lambda mm: f"concat('2024-{mm}-', {_DAY}, ' 10:00:00')"  # noqa: E731
    tasks = orders.join(links, F.expr("o_orderkey = l_orderkey"), "left").selectExpr(
        "o_orderkey AS TASK_ID",
        "o_custkey % 5 AS CATEGORY_ID",
        "o_orderstatus AS STATUS",
        "CAST(o_orderkey % 100 AS DOUBLE) AS PERCENT_COMPLETE",
        "o_orderpriority AS PRIORITY",
        "o_custkey % 100 + 1 AS OWNER_USER_ID",
        "o_custkey % 10 AS ASSIGNED_TEAM_ID",
        f"CASE WHEN o_orderkey % 7 = 0 THEN 'tbd' ELSE {iso('01')} END AS ASSIGNED_DATE_UTC",
        f"CASE WHEN o_orderkey % 5 = 0 THEN 'n/a' ELSE {iso('02')} END AS DATE_CREATED_UTC",
        "'' AS REMINDER_DATE_UTC",
        f"{iso('03')} AS DUE_DATE",
        f"CASE WHEN o_orderstatus = 'F' THEN {iso('04')} ELSE '' END AS COMPLETED_DATE_UTC",
        "LINKS",
    )
    return X.task_export(
        tasks=tasks,
        categories=region.selectExpr("r_regionkey AS CATEGORY_ID", "r_name AS CATEGORY_NAME"),
        users=supplier.selectExpr(*_SUPPLIER_USERS),
        contacts=customer.selectExpr(
            "c_custkey AS CONTACT_ID", "c_name AS FIRST_NAME", "c_mktsegment AS LAST_NAME"
        ),
        leads=nation.selectExpr(
            "n_nationkey AS LEAD_ID", "n_name AS FIRST_NAME", "'lead' AS LAST_NAME"
        ),
        opportunities=part.selectExpr(
            "p_partkey AS OPPORTUNITY_ID",
            "p_name AS OPPORTUNITY_NAME",
            "CASE WHEN p_partkey % 5 = 0 THEN 0 ELSE p_partkey % 1500 + 1 END AS ORGANISATION_ID",
        ),
        organisations=customer.selectExpr(*_CUSTOMER_ORGS),
        projects=nation.selectExpr("n_nationkey AS PROJECT_ID", "concat('proj-', n_name) AS PROJECT_NAME"),
        notes=region.selectExpr("r_regionkey AS NOTE_ID", "concat('note-', r_name) AS TITLE"),
        broadcast_dims=False,
    )


# ---------------------------------------------------------------------------
# opportunity export (the flagship: J4-J9, fan-out J8, Q2 duplicate
# column, P5 flags, LAST_WIN custom fields, try_cast join keys)

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
    '2024-01-' || {_DD.replace('o_orderkey', 'o.opp_id')} || ' 08:00:00' AS "Date Created",
    '2024-02-' || {_DD.replace('o_orderkey', 'o.opp_id')} || ' 08:00:00' AS "Date Closed (Forecast)",
    '2024-03-' || {_DD.replace('o_orderkey', 'o.opp_id')} || ' 08:00:00' AS "Date Closed (Actual)",
    o.value AS "Opportunity Value",
    CASE WHEN o.opp_id % 2 = 0 THEN 'USD' ELSE 'EUR' END AS "Bid Currency",
    o.state AS "Opportunity State",
    coalesce('stage-' || stg.n_name, '') AS "Current Pipeline Stage",
    o.value AS "Expected Revenue",
    '2024-04-' || {_DD.replace('o_orderkey', 'o.opp_id')} || ' 08:00:00' AS "Date of Last Activity",
    '2024-05-' || {_DD.replace('o_orderkey', 'o.opp_id')} || ' 08:00:00' AS "Date of Next Activity",
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

    iso = lambda mm: f"concat('2024-{mm}-', {_DAY}, ' 08:00:00')"  # noqa: E731
    base_cf = _fields(
        _field("Quantity__c", "'X'"),  # duplicate key: LAST_WIN must drop this
        _field("Entity_Owning_Equipment__c", "CAST(o_custkey % 1500 + 1 AS STRING)"),
        _field("Channel_Owner__c", "CASE WHEN o_orderkey % 13 = 0 THEN 'nan' "
                                   "ELSE CAST(o_custkey % 700 + 1 AS STRING) END"),
        _field("Quantity__c", "CAST(o_orderkey % 9 AS STRING)"),
        _field("Product_Type__c", "concat('type-', CAST(o_orderkey % 3 AS STRING))"),
        _field("Channel_Type__c", "CASE WHEN o_orderkey % 2 = 0 THEN 'direct' ELSE 'partner' END"),
        _field("GAP_Strategy__c", "concat('gap-', CAST(o_orderkey % 5 AS STRING))"),
        _field("Current_State__c", "concat('state-', CAST(o_orderkey % 7 AS STRING))"),
        _field("Invoice_Number__c", "concat('INV-', CAST(o_orderkey AS STRING))"),
        _field("Purchase_Order__c", f"CASE WHEN o_orderkey % 9 = 0 THEN {_NULL_STR} "
                                    "ELSE concat('PO-', CAST(o_custkey AS STRING)) END"),
    )
    trial = _field("Trial__c", f"CASE WHEN o_orderkey % 4 = 1 THEN {_NULL_STR} "
                               "WHEN o_orderkey % 4 = 2 THEN 'yes' ELSE 'no' END")
    opportunities = orders.selectExpr(
        "o_orderkey AS OPPORTUNITY_ID",
        # newline inside the name exercises F1 clean_text
        r"concat('Opp', '\n', CAST(o_orderkey AS STRING)) AS OPPORTUNITY_NAME",
        "CASE WHEN o_orderkey % 11 = 0 THEN CAST(NULL AS BIGINT) ELSE o_custkey END "
        "AS ORGANISATION_ID",
        "o_custkey % 100 + 1 AS OWNER_USER_ID",
        "o_orderkey % 6 AS STAGE_ID",
        "o_orderkey % 4 AS STATE_REASON_ID",
        "o_orderkey % 3 AS PRICEBOOK_ID",
        f"{iso('01')} AS DATE_CREATED_UTC",
        f"{iso('02')} AS FORECAST_CLOSE_DATE",
        f"{iso('03')} AS ACTUAL_CLOSE_DATE",
        "o_totalprice AS OPPORTUNITY_VALUE",
        "CASE WHEN o_orderkey % 2 = 0 THEN 'USD' ELSE 'EUR' END AS BID_CURRENCY",
        "CASE WHEN o_orderkey % 3 = 0 THEN 'WON' WHEN o_orderkey % 3 = 1 THEN 'OPEN' "
        "ELSE 'LOST' END AS OPPORTUNITY_STATE",
        f"{iso('04')} AS LAST_ACTIVITY_DATE_UTC",
        f"{iso('05')} AS NEXT_ACTIVITY_DATE_UTC",
        "CAST(o_orderkey % 100 AS DOUBLE) AS PROBABILITY",
        f"CASE WHEN o_orderkey % 4 = 0 THEN {base_cf} "
        f"ELSE concat({base_cf}, {_fields(trial)}) END AS CUSTOMFIELDS",
    )
    opportunity_links = lineitem.filter("l_suppkey % 2 = 0").selectExpr(
        "'Opportunity' AS OBJECT_NAME",
        "l_orderkey AS OBJECT_ID",
        "'Organisation' AS LINK_OBJECT_NAME",
        "l_suppkey % 1500 + 1 AS LINK_OBJECT_ID",
    )
    return X.opportunity_export(
        opportunities=opportunities,
        organisations=customer.selectExpr(*_CUSTOMER_ORGS),
        users=supplier.selectExpr(*_SUPPLIER_USERS),
        pricebooks=region.filter("r_regionkey < 3").selectExpr(
            "r_regionkey AS PRICEBOOK_ID", "concat('pb-', r_name) AS NAME"
        ),
        products=part.selectExpr(
            "p_partkey AS PRODUCT_ID",
            "concat('fam-', CAST(p_partkey % 7 AS STRING)) AS PRODUCT_FAMILY",
        ),
        state_reasons=region.filter("r_regionkey < 4").selectExpr(
            "r_regionkey AS STATE_REASON_ID", "concat('reason-', r_name) AS STATE_REASON"
        ),
        stages=nation.filter("n_nationkey < 6").selectExpr(
            "n_nationkey AS STAGE_ID", "concat('stage-', n_name) AS STAGE_NAME"
        ),
        pricebook_entries=part.selectExpr("p_partkey AS PRICEBOOK_ENTRY_ID", "p_partkey AS PRODUCT_ID"),
        line_items=lineitem.selectExpr(
            "l_orderkey AS OPPORTUNITY_ID", "l_partkey AS PRICEBOOK_ENTRY_ID"
        ),
        opportunity_links=opportunity_links,
        broadcast_dims=False,
    )


# ---------------------------------------------------------------------------
# invoice export (J13 struct-payload org dim x3 roles, Q1 effective site
# key, Q4 owner passthrough, F4 date-or-passthrough)

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
         ELSE {_DD} || '/01/2024' END AS "Invoice Date",
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

    cf = _fields(
        _field("Invoiced_Organization__c", "CAST(o_custkey AS STRING)"),
        # Q1 decoy: present in the data, must never reach the output
        _field("Site_Organization__c", "CAST(o_custkey % 1500 + 1 AS STRING)"),
        _field("Site_Name_Invoice__c", "CAST((o_custkey + 7) % 1500 + 1 AS STRING)"),
        _field("Channel_Partner_Invoiced__c", "CASE WHEN o_orderkey % 13 = 0 THEN 'x' "
                                              "ELSE CAST(o_custkey % 700 + 1 AS STRING) END"),
        _field("Invoice_Date__c", "CASE WHEN o_orderkey % 7 = 0 THEN 'soon' "
                                  f"ELSE concat('2024-01-', {_DAY}, ' 00:00:00') END"),
        _field("Invoiced_Item__c", "concat('item-', CAST(o_orderkey % 50 AS STRING))"),
        _field("Invoiced_Amount__c",
               "CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS STRING)"),
        _field("Invoice_Currency__c", "CASE WHEN o_orderkey % 3 = 0 THEN 'USD' "
                                      "WHEN o_orderkey % 3 = 1 THEN 'EUR' ELSE 'CAD' END"),
        _field("PO_Number__c", "concat('PO-', CAST(o_custkey AS STRING))"),
        _field("Item_Quantity__c", "CAST(o_orderkey % 12 AS STRING)"),
        _field("Invoiced_Product_Type__c", "concat('pt-', CAST(o_orderkey % 4 AS STRING))"),
        _field("Invoiced_Product_for_Equipment_Type__c",
               "concat('eq-', CAST(o_orderkey % 5 AS STRING))"),
        _field("Invoice_Num__c", "CAST(o_orderkey AS STRING)"),
        _field("Invoiced_Amount_in_CAD__c", "CAST(o_orderkey % 1000 AS STRING)"),
    )
    invoices = orders.selectExpr(
        "concat('Inv-', CAST(o_orderkey AS STRING)) AS RECORD_NAME",
        "o_orderkey AS RECORD_ID",
        "o_custkey % 100 + 1 AS OWNER_USER_ID",
        f"{cf} AS CUSTOMFIELDS",
    )
    org_cf = _fields(
        _field("Organization_Type__c", "CASE WHEN c_acctbal < 0 THEN 'debtor' ELSE 'credit' END"),
        _field("Region__c", "c_mktsegment"),
    )
    return X.invoice_export(
        invoices=invoices,
        users=supplier.selectExpr(*_SUPPLIER_USERS),
        organisations=customer.selectExpr(*_CUSTOMER_ORGS, f"{org_cf} AS CUSTOMFIELDS"),
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

    entity = _field("Entity_Owning_Equipment_Equipment__c",
                    f"CASE WHEN o_orderkey % 4 = 1 THEN {_NULL_STR} "
                    "ELSE CAST(o_custkey AS STRING) END")
    others = _fields(
        _field("Site_Name_Equipment__c", f"CASE WHEN o_orderkey % 3 = 0 THEN {_NULL_STR} "
                                         "ELSE CAST(o_custkey % 1500 + 1 AS STRING) END"),
        _field("Equipment_Type_Equipment__c", "concat('et-', CAST(o_orderkey % 4 AS STRING))"),
        _field("Equipment_Make_Equipment__c", "concat('mk-', CAST(o_orderkey % 6 AS STRING))"),
        _field("Equipment_Model_Equipment__c", "concat('md-', CAST(o_orderkey % 9 AS STRING))"),
        _field("Equipment_Quantity_Equipment__c", "CAST(o_orderkey % 7 AS STRING)"),
        _field("Serial_Number_Notes__c", "concat('sn-', CAST(o_orderkey % 100 AS STRING))"),
        _field("Last_Date_of_Equipment_Details_Confirmed__c", f"concat('2024-06-', {_DAY})"),
    )
    cf = (f"concat(CASE WHEN o_orderkey % 4 = 0 THEN {_NO_FIELDS} "
          f"ELSE {_fields(entity)} END, {others})")
    equipment = orders.selectExpr(
        "o_orderkey AS RECORD_ID",
        "concat('Equip-', CAST(o_orderkey AS STRING)) AS RECORD_NAME",
        "CASE WHEN o_orderkey % 17 = 0 THEN 9999999 ELSE o_custkey % 100 + 1 END AS OWNER_USER_ID",
        f"concat('2024-01-', {_DAY}, ' 07:00:00') AS DATE_CREATED_UTC",
        f"concat('2024-02-', {_DAY}, ' 07:00:00') AS DATE_UPDATED_UTC",
        f"{cf} AS CUSTOMFIELDS",
    )
    return X.equipment_export(
        equipment=equipment,
        users=supplier.selectExpr(*_SUPPLIER_USERS),
        organisations=customer.selectExpr(*_CUSTOMER_ORGS),
        broadcast_dims=False,
    )
