"""Export-pipeline tests on CRM-shaped fixtures (exports.py), covering
the reference quirks Q1–Q5, Q7 and the join roles J4/J8/J10/J13."""

from __future__ import annotations

import gc
import threading
from unittest import mock

import pytest
from py4j.clientserver import ClientServerConnection

from magshield_data_pipeline_spark import exports as E
from magshield_data_pipeline_spark import schemas as SCH
from magshield_data_pipeline_spark.plans.registry import QUERY_REGISTRY
from tests.conftest import SF_SMALL


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema=schema)


@pytest.fixture()
def users(spark):
    return _df(
        spark,
        [{"USER_ID": 1, "FIRST_NAME": "Ann", "LAST_NAME": "Lee"},
         {"USER_ID": 2, "FIRST_NAME": "Bo", "LAST_NAME": None}],
        SCH.USER_SCHEMA,
    )


@pytest.fixture()
def organisations(spark):
    return _df(
        spark,
        [
            {
                "ORGANISATION_ID": 5,
                "ORGANISATION_NAME": "OrgA",
                "DATE_CREATED_UTC": "2022-09-23 03:42:25",
                "CUSTOMFIELDS": [
                    ("Organization_Type__c", "Mining"),
                    ("Region__c", "NA"),
                    ("Active__c", "False"),  # non-empty string → truthy!
                ],
                "LINKS": [("Contact", 10), ("Contact", 11), ("Project", 7)],
            },
            {
                "ORGANISATION_ID": 6,
                "ORGANISATION_NAME": "OrgB",
                "DATE_CREATED_UTC": "not a date",
                "CUSTOMFIELDS": [("Organization_Type__c", "Port"), ("Region__c", "EU")],
                "LINKS": None,
            },
        ],
        SCH.ORGANISATION_SCHEMA,
    )


# ---------------------------------------------------------------------------
# organisation export


def test_organisation_export_quirks(spark, organisations):
    out = {r["Organization ID"]: r for r in E.organisation_export(organisations).collect()}
    a, b = out[5], out[6]
    assert a["Linked Contacts Count"] == 2  # F9: only Contact links
    assert a["Focus Organization"] is True  # P5: bool('False') is True
    assert b["Focus Organization"] is False  # missing key → False
    assert a["Date Created"] == "09/23/2022"  # F3
    assert b["Date Created"] == "not a date"  # F3 fallback: input unchanged
    assert a["Organization Type"] == "Mining" and b["Region"] == "EU"
    assert b["Linked Contacts Count"] == 0  # null LINKS → 0


# ---------------------------------------------------------------------------
# quote export


def test_quote_export_quirks(spark, users, organisations):
    quotes = _df(
        spark,
        [
            {
                "QUOTE_ID": 1,
                "GRAND_TOTAL": 123.45,
                "ORGANISATION_ID": 5,
                "ORGANISATION_NAME": "",  # empty → joined name wins (P4)
                "OPPORTUNITY_ID": 100,
                "OPPORTUNITY_NAME": None,
                "DATE_CREATED_UTC": "2025-08-25 20:41:00",
                "CUSTOMFIELDS": [("Sales_Person__c", None)],  # Q3
            },
            {
                "QUOTE_ID": 2,
                "GRAND_TOTAL": 99.0,
                "ORGANISATION_ID": None,
                "ORGANISATION_NAME": "Inline Org",
                "OPPORTUNITY_ID": None,
                "OPPORTUNITY_NAME": "Inline Opp",
                "CUSTOMFIELDS": [("Grand_Total__c", ""), ("Sales_Person__c", "20")],
            },
        ],
        SCH.QUOTATION_SCHEMA,
    )
    opps = _df(
        spark,
        [{"OPPORTUNITY_ID": 100, "OPPORTUNITY_NAME": "Opp100"}],
        SCH.OPPORTUNITY_SCHEMA,
    )
    contacts = _df(
        spark,
        [{"CONTACT_ID": 20, "FIRST_NAME": "Bob", "LAST_NAME": "Ray"}],
        SCH.CONTACT_SCHEMA,
    )
    out = {r["Record ID"]: r for r in E.quote_export(quotes, opps, organisations, contacts).collect()}
    q1, q2 = out[1], out[2]
    assert q1["Sales Person Id"] == "None"  # Q3: present-but-null → 'None'
    assert q2["Sales Person Id"] == "20"
    assert q1["Sales Person"] == "" and q2["Sales Person"] == "Bob Ray"  # J3
    assert q1["Grand Total"] == "123.45"  # key missing → inline fallback
    assert q2["Grand Total"] == ""  # key present-empty → NO fallback
    assert q1["Organization Name"] == "OrgA"  # P4: '' or joined
    assert q2["Organization Name"] == "Inline Org"
    assert q1["Opportunity Name"] == "Opp100"
    assert q2["Opportunity Name"] == "Inline Opp"
    assert q1["Date Created"] == "25-Aug-25 8:41 PM"  # F2


# ---------------------------------------------------------------------------
# invoice export (J13 ×3 roles, Q1, Q4)


def test_invoice_export_quirks(spark, users, organisations):
    invoices = _df(
        spark,
        [
            {
                "RECORD_ID": 11,
                "RECORD_NAME": "INV-1\nX",
                "OWNER_USER_ID": 1,
                "CUSTOMFIELDS": [
                    ("Invoiced_Organization__c", "5"),
                    ("Site_Organization__c", "5"),  # Q1: decoy — must be ignored
                    ("Site_Name_Invoice__c", "6"),  # Q1: effective site key
                    ("Invoice_Date__c", "2024-03-05 10:00:00"),
                ],
            }
        ],
        SCH.INVOICE_SCHEMA,
    )
    [r] = E.invoice_export(invoices, users, organisations).collect()
    assert r["Owner"] == "1;Ann Lee"  # Q4: composite passes through unchanged
    assert r["Entity Owning Equipment"] == "OrgA"
    assert r["Organization Type"] == "Mining" and r["Region"] == "NA"  # J13 payload
    assert r["Site Name"] == "OrgB"  # Q1: resolved via Site_Name_Invoice__c
    assert r["Organization Type_1"] == "Port" and r["Region_2"] == "EU"
    assert r["Channel Partner"] == ""  # missing key → no match → ''
    assert r["Invoice Date"] == "05/03/2024"  # F4 dd/MM/yyyy
    assert r["Invoice Number"] == "INV-1 X"  # F1 clean_text


# ---------------------------------------------------------------------------
# equipment export (J14, F7 'Name||ID||User')


def test_equipment_export_owner_site_key(spark, users, organisations):
    equipment = _df(
        spark,
        [
            {
                "RECORD_ID": 21,
                "RECORD_NAME": "Mine - Make - Model",
                "OWNER_USER_ID": 1,
                "CUSTOMFIELDS": [
                    ("Entity_Owning_Equipment_Equipment__c", "5"),
                    ("Site_Name_Equipment__c", None),  # Q3 → 'None' in Record ID_2
                ],
            },
            {"RECORD_ID": 22, "RECORD_NAME": "X", "OWNER_USER_ID": None,
             "CUSTOMFIELDS": []},
        ],
        SCH.EQUIPMENT_SCHEMA,
    )
    out = {r["Record ID"]: r for r in E.equipment_export(equipment, users, organisations).collect()}
    e1, e2 = out[21], out[22]
    assert e1["Owner"] == "1;Ann Lee"
    assert e1["Organization"] == "Ann Lee||1||User"  # F7 (the real format)
    assert e1["Entity Owning Equipment"] == "OrgA"
    assert e1["Record ID_2"] == "None"  # Q3
    assert e2["Owner"] == "" and e2["Organization"] == ""  # no owner → ''


# ---------------------------------------------------------------------------
# task export (J10 dispatch, J11 backfill, Q5 last-wins)


@pytest.fixture()
def task_dims(spark):
    return dict(
        categories=_df(spark, [{"CATEGORY_ID": 3, "CATEGORY_NAME": "Call"}], SCH.TASK_CATEGORY_SCHEMA),
        users=_df(spark, [{"USER_ID": 1, "FIRST_NAME": "Ann", "LAST_NAME": "Lee"}], SCH.USER_SCHEMA),
        contacts=_df(spark, [{"CONTACT_ID": 10, "FIRST_NAME": "Cal", "LAST_NAME": "One"},
                             {"CONTACT_ID": 11, "FIRST_NAME": "Dee", "LAST_NAME": "Two"}], SCH.CONTACT_SCHEMA),
        leads=_df(spark, [{"LEAD_ID": 40, "FIRST_NAME": "Lu", "LAST_NAME": "Lead"}], SCH.LEAD_SCHEMA),
        opportunities=_df(
            spark,
            [{"OPPORTUNITY_ID": 100, "OPPORTUNITY_NAME": "Opp100", "ORGANISATION_ID": 5},
             {"OPPORTUNITY_ID": 101, "OPPORTUNITY_NAME": "Opp101", "ORGANISATION_ID": None}],
            SCH.OPPORTUNITY_SCHEMA,
        ),
        organisations=_df(
            spark,
            [{"ORGANISATION_ID": 5, "ORGANISATION_NAME": "OrgA"},
             {"ORGANISATION_ID": 6, "ORGANISATION_NAME": "OrgB"}],
            SCH.ORGANISATION_SCHEMA,
        ),
        projects=_df(spark, [{"PROJECT_ID": 7, "PROJECT_NAME": "Proj7"}], SCH.PROJECT_SCHEMA),
        notes=_df(spark, [{"NOTE_ID": 8, "TITLE": "Note8"}], SCH.NOTE_SCHEMA),
    )


def test_task_export_last_wins_and_backfill(spark, task_dims):
    tasks = _df(
        spark,
        [
            # Q5: later links overwrite; Organisation link beats earlier opp backfill
            {"TASK_ID": 1, "CATEGORY_ID": 3, "OWNER_USER_ID": 1, "STATUS": "DONE",
             "DATE_CREATED_UTC": "2022-09-23 03:42:25",
             "LINKS": [("Contact", 10), ("Opportunity", 100), ("Organisation", 6), ("Contact", 11)]},
            # J11: Opportunity backfill later than Organisation link → wins
            {"TASK_ID": 2, "STATUS": "OPEN",
             "LINKS": [("Organisation", 6), ("Opportunity", 100)]},
            # opp with null org: sets linked_opp, does NOT overwrite linked_org
            {"TASK_ID": 3, "STATUS": "OPEN",
             "LINKS": [("Organisation", 6), ("Opportunity", 101)]},
            # no links at all
            {"TASK_ID": 4, "STATUS": "OPEN", "LINKS": []},
            # dim miss on the LAST link overwrites with ''
            {"TASK_ID": 5, "STATUS": "OPEN",
             "LINKS": [("Contact", 10), ("Contact", 99)]},
        ],
        SCH.TASK_SCHEMA,
    )
    out = {r["TaskID"]: r for r in E.task_export(tasks, **task_dims).collect()}
    t1 = out[1]
    assert t1["Linked Contact"] == "Dee Two"  # last Contact link wins
    assert t1["Linked Opportunity"] == "Opp100"
    assert t1["Linked Organization"] == "OrgB"  # direct link later than backfill
    assert t1["Category"] == "Call"
    assert t1["Owner Name"] == "1;Ann Lee"
    assert t1["Date Created"] == "09/23/2022"
    assert out[2]["Linked Organization"] == "OrgA"  # backfill via opp's org wins
    assert out[3]["Linked Organization"] == "OrgB"  # null-org opp can't overwrite
    assert out[3]["Linked Opportunity"] == "Opp101"
    assert out[4]["Linked Contact"] == "" and out[4]["Linked Organization"] == ""
    assert out[5]["Linked Contact"] == ""  # last link missed the dim → ''


# ---------------------------------------------------------------------------
# opportunity export (J4 ×3 roles, J7/J8 fan-out, J9 site names, P5, Q2)


def test_opportunity_export_fanout_and_quirks(spark, task_dims):
    opps = _df(
        spark,
        [
            {"OPPORTUNITY_ID": 100, "OPPORTUNITY_NAME": "Opp\nA", "ORGANISATION_ID": 5,
             "OWNER_USER_ID": 1, "STAGE_ID": 50, "PRICEBOOK_ID": 60,
             "STATE_REASON_ID": 70, "OPPORTUNITY_STATE": "WON",
             "OPPORTUNITY_VALUE": 1000.0,
             "CUSTOMFIELDS": [("Entity_Owning_Equipment__c", "6"),
                              ("Trial__c", "yes")]},
            {"OPPORTUNITY_ID": 101, "OPPORTUNITY_NAME": "OppB", "ORGANISATION_ID": 5,
             "OPPORTUNITY_STATE": "OPEN", "OPPORTUNITY_VALUE": 7.5,
             "CUSTOMFIELDS": []},
        ],
        SCH.OPPORTUNITY_SCHEMA,
    )
    out_rows = E.opportunity_export(
        opps,
        organisations=task_dims["organisations"],
        users=task_dims["users"],
        pricebooks=_df(spark, [{"PRICEBOOK_ID": 60, "NAME": "PB"}], SCH.PRICEBOOK_SCHEMA),
        products=_df(spark, [{"PRODUCT_ID": 900, "PRODUCT_FAMILY": "FamX"},
                             {"PRODUCT_ID": 901, "PRODUCT_FAMILY": "FamY"}], SCH.PRODUCT_SCHEMA),
        state_reasons=_df(spark, [{"STATE_REASON_ID": 70, "STATE_REASON": "Good"}],
                          SCH.OPPORTUNITY_STATE_REASON_SCHEMA),
        stages=_df(spark, [{"STAGE_ID": 50, "STAGE_NAME": "Closed"}], SCH.PIPELINE_STAGE_SCHEMA),
        pricebook_entries=_df(spark, [{"PRICEBOOK_ENTRY_ID": 800, "PRODUCT_ID": 900},
                                      {"PRICEBOOK_ENTRY_ID": 801, "PRODUCT_ID": 901}],
                              SCH.PRICEBOOK_ENTRY_SCHEMA),
        line_items=_df(spark, [{"OPPORTUNITY_ID": 100, "PRICEBOOK_ENTRY_ID": 800},
                               {"OPPORTUNITY_ID": 100, "PRICEBOOK_ENTRY_ID": 801}],
                       SCH.OPPORTUNITY_LINE_ITEM_SCHEMA),
        opportunity_links=_df(
            spark,
            [
                {"OBJECT_NAME": "Opportunity", "OBJECT_ID": 100,
                 "LINK_OBJECT_NAME": "Organisation", "LINK_OBJECT_ID": 6},
                {"OBJECT_NAME": "Opportunity", "OBJECT_ID": 100,
                 "LINK_OBJECT_NAME": "Organisation", "LINK_OBJECT_ID": 5},  # main org: excluded
                {"OBJECT_NAME": "Opportunity", "OBJECT_ID": 100,
                 "LINK_OBJECT_NAME": "Contact", "LINK_OBJECT_ID": 10},  # wrong type: excluded
            ],
            SCH.OPPORTUNITY_LINK_SCHEMA,
        ),
    ).collect()
    by_opp = {}
    for r in out_rows:
        by_opp.setdefault(r["Opportunity ID"], []).append(r)
    a_rows, b_rows = by_opp["100"], by_opp["101"]
    # J8: one row per product; zero products → single row with pid ''
    assert sorted(r["Product ID"] for r in a_rows) == ["900", "901"]
    assert [r["Product ID"] for r in b_rows] == [""]
    fam = {r["Product ID"]: r["Product Family"] for r in a_rows}
    assert fam == {"900": "FamX", "901": "FamY"}
    a = a_rows[0]
    assert a["Opportunity Name"] == "Opp A"  # F1
    assert a["Entity Owning Equipment"] == "OrgB"  # J4 role via custom field
    assert a["Organization Name"] == "OrgA"  # J4 main-org role
    assert a["Site Name"] == "OrgB"  # J9: excludes main org + non-org links
    assert a["Won"] == "TRUE" and b_rows[0]["Won"] == "FALSE"  # P5
    assert a["Trial?"] == "YES" and b_rows[0]["Trial?"] == "FALSE"
    assert a["Expected Revenue"] == a["Opportunity Value"] == 1000.0  # Q2
    assert a["Opportunity Owner"] == "1;Ann Lee"
    assert a["Owner Name"] == "Ann Lee"  # F7 split-back
    assert b_rows[0]["Owner Name"] == ""  # no owner → ''
    assert a["Current Pipeline Stage"] == "Closed"
    assert a["State Reason"] == "Good"
    assert a["Pricebook Name"] == "PB"


def test_opportunity_site_name_with_null_main_org(spark, task_dims):
    """A null ORGANISATION_ID must KEEP linked site orgs: the reference
    compares strings with ''-defaults (opportunity.py:190-196), so no
    link id ever equals the '' main-org key."""
    opps = _df(
        spark,
        [{"OPPORTUNITY_ID": 200, "OPPORTUNITY_NAME": "OppC",
          "OPPORTUNITY_STATE": "OPEN", "OPPORTUNITY_VALUE": 1.0,
          "CUSTOMFIELDS": []}],  # no ORGANISATION_ID
        SCH.OPPORTUNITY_SCHEMA,
    )
    empty = lambda sch: _df(spark, [], sch)  # noqa: E731
    out = E.opportunity_export(
        opps,
        organisations=task_dims["organisations"],
        users=task_dims["users"],
        pricebooks=empty(SCH.PRICEBOOK_SCHEMA),
        products=empty(SCH.PRODUCT_SCHEMA),
        state_reasons=empty(SCH.OPPORTUNITY_STATE_REASON_SCHEMA),
        stages=empty(SCH.PIPELINE_STAGE_SCHEMA),
        pricebook_entries=empty(SCH.PRICEBOOK_ENTRY_SCHEMA),
        line_items=empty(SCH.OPPORTUNITY_LINE_ITEM_SCHEMA),
        opportunity_links=_df(
            spark,
            [{"OBJECT_NAME": "Opportunity", "OBJECT_ID": 200,
              "LINK_OBJECT_NAME": "Organisation", "LINK_OBJECT_ID": 6}],
            SCH.OPPORTUNITY_LINK_SCHEMA,
        ),
    ).collect()
    assert len(out) == 1
    assert out[0]["Site Name"] == "OrgB"


def test_users_export_projection_dedup(spark, users):
    doubled = users.unionByName(users)
    out = E.users_export(doubled)
    assert out.count() == 2  # Q7/A4 dedup
    assert out.columns[:3] == ["USER_ID", "CONTACT_ID", "FIRST_NAME"]


# ---------------------------------------------------------------------------
# plan build cost: py4j round trips per export build

# Round trips the builds made when every projection was composed as
# Column objects, one JVM call per node (sf0.001, reads warm, GC off).
_COLUMN_BUILD_ROUND_TRIPS = {
    "organisation_export_pipeline": 1366,
    "quote_export_pipeline": 2524,
    "task_export_pipeline": 5086,
    "opportunity_export_pipeline": 5148,
    "invoice_export_pipeline": 3393,
    "equipment_export_pipeline": 2434,
}


@pytest.mark.parametrize("name", sorted(_COLUMN_BUILD_ROUND_TRIPS))
def test_export_build_round_trips(spark, name):
    """Projections written as SQL text are parsed by the JVM in one call
    each: a build makes at most half the Column-composed round trips.
    Counted on the building thread only (py4j's finalizer thread sends
    its object releases asynchronously)."""
    build = QUERY_REGISTRY[name].fn
    build(spark, SF_SMALL)  # warm the session's read memo
    gc.collect()
    me, calls = threading.get_ident(), 0
    send = ClientServerConnection.send_command

    def counting(conn, command):
        nonlocal calls
        calls += threading.get_ident() == me
        return send(conn, command)

    gc.disable()
    try:
        with mock.patch.object(ClientServerConnection, "send_command", counting):
            build(spark, SF_SMALL)
    finally:
        gc.enable()
    assert 0 < calls <= _COLUMN_BUILD_ROUND_TRIPS[name] // 2, calls
