"""Unit tests for the scalar function library (SURVEY §2.4 F1–F14),
including the quirky edges: date-parse fallback returns the input
unchanged, map build is last-wins, null arrays count as empty."""

from __future__ import annotations

import base64

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from magshield_data_pipeline_spark.functions import scalars as S
from magshield_data_pipeline_spark.schemas import CUSTOMFIELDS_TYPE, LINKS_TYPE


def _one(spark, col, value=None, schema="v string"):
    df = spark.createDataFrame([(value,)], schema)
    return df.select(col.alias("out")).first()["out"]


def test_clean_text(spark):
    assert _one(spark, F.expr(S.clean_text("v")), "  a\rb\nc  ") == "a b c"
    assert _one(spark, F.expr(S.clean_text("v")), None) is None


def test_format_date_quote_happy_and_fallback(spark):
    assert _one(spark, F.expr(S.format_date_quote("v")), "2025-08-25 20:41:00") == "25-Aug-25 8:41 PM"
    assert _one(spark, F.expr(S.format_date_quote("v")), "2025-08-25 00:05:00") == "25-Aug-25 12:05 AM"
    # parse failure → input unchanged (quote.py:175-182 except branch)
    assert _one(spark, F.expr(S.format_date_quote("v")), "not a date") == "not a date"
    assert _one(spark, F.expr(S.format_date_quote("v")), "") == ""


def test_format_date_only_and_ui(spark):
    assert _one(spark, F.expr(S.format_date_only("v")), "2025-01-31 08:00:00") == "01/31/2025"
    assert _one(spark, F.expr(S.format_date_ui("v")), "2025-01-31 08:00:00") == "31/01/2025"
    # ui takes the part before ' ' — garbage after the date still parses
    assert _one(spark, F.expr(S.format_date_ui("v")), "2025-01-31 zz:zz") == "31/01/2025"
    assert _one(spark, F.expr(S.format_date_ui("v")), "31st Jan") == "31st Jan"


def test_full_name_and_composite_key(spark):
    df = spark.createDataFrame(
        [(1, "Ada", "Lovelace"), (2, "Solo", None), (3, None, None)],
        "id long, first string, last string",
    )
    rows = df.select(
        S.full_name("first", "last").alias("n"),
        S.composite_key("id", S.full_name("first", "last")).alias("k"),
    ).collect()
    assert [r["n"] for r in rows] == ["Ada Lovelace", "Solo", ""]
    assert rows[0]["k"] == "1;Ada Lovelace"
    assert rows[2]["k"] == "3;"


def test_split_part_and_owner_key(spark):
    assert _one(spark, F.expr(S.split_part("v", ";", 1)), "42;Jane Doe") == "Jane Doe"
    df = spark.createDataFrame([("Org", 7, "User")], "a string, b long, c string")
    row = df.select(S.org_owner_site_key("a", "b", "c").alias("k")).first()
    assert row["k"] == "Org||7||User"


def test_join_nonempty(spark):
    df = spark.createDataFrame([(["x", None, "", "y"],)], "v array<string>")
    assert df.select(S.join_nonempty("v").alias("o")).first()["o"] == "x and y"


def test_custom_fields_map_last_wins_and_default(spark):
    schema = StructType([StructField("CUSTOMFIELDS", CUSTOMFIELDS_TYPE)])
    df = spark.createDataFrame(
        [
            ([("A__c", "1"), ("A__c", "2"), ("B__c", None)],),
            (None,),
        ],
        schema,
    )
    m = S.custom_fields_map("CUSTOMFIELDS")
    rows = df.select(
        F.expr(S.cf_get(m, "A__c")).alias("a"),
        F.expr(S.cf_get(m, "B__c", "dflt")).alias("b"),
        F.expr(S.cf_get(m, "Missing__c")).alias("miss"),
    ).collect()
    # duplicate key keeps the LAST value, like a Python dict build
    assert rows[0]["a"] == "2"
    # present-but-null FIELD_VALUE → default (the `or ""` guard)
    assert rows[0]["b"] == "dflt"
    assert rows[0]["miss"] == ""
    # null CUSTOMFIELDS array → defaults all the way down
    assert rows[1]["a"] == ""


def test_conditional_link_count_null_safe(spark):
    schema = StructType([StructField("LINKS", LINKS_TYPE)])
    df = spark.createDataFrame(
        [
            ([("Contact", 1), ("Contact", 2), ("Lead", 3)],),
            (None,),
            ([],),
        ],
        schema,
    )
    rows = df.select(F.expr(S.conditional_link_count("LINKS", "Contact")).alias("n")).collect()
    assert [r["n"] for r in rows] == [2, 0, 0]


def test_share_token_matches_python_b64(spark):
    url = "https://example.org/share?id=abc/def+gh"
    expected = "u!" + base64.b64encode(url.encode()).decode().rstrip("=").replace(
        "/", "_"
    ).replace("+", "-")
    assert _one(spark, S.share_token("v"), url) == expected


def test_extract_download_href_and_url_param(spark):
    html = (
        '<html><a href="https://x.io/other">nope</a>'
        '<a class="btn" href="https://x.io/r?url=https%3A%2F%2Ffiles.io%2Freport.csv">'
        "Click to Download Report</a></html>"
    )
    href = _one(spark, S.extract_download_href("v"), html)
    assert href == "https://x.io/r?url=https%3A%2F%2Ffiles.io%2Freport.csv"
    assert (
        _one(spark, S.url_query_param("v", "url"), href)
        == "https://files.io/report.csv"
    )


def test_basename(spark):
    assert _one(spark, S.basename("v"), "/tmp/exports/Quotes BPR.xlsx") == "Quotes BPR.xlsx"


def test_coalesce_str(spark):
    df = spark.createDataFrame([(None, None), (None, "b"), ("a", "b")], "x string, y string")
    rows = df.select(F.expr(S.coalesce_str("x", "y")).alias("o")).collect()
    assert [r["o"] for r in rows] == ["", "b", "a"]


def test_split_part_literal_delimiters(spark):
    # '||' and '.' are regex metacharacters — split_part must treat them
    # literally (Python str.split semantics)
    key = "Ann Lee||1||User"
    assert _one(spark, F.expr(S.split_part("v", "||", 0)), key) == "Ann Lee"
    assert _one(spark, F.expr(S.split_part("v", "||", 1)), key) == "1"
    assert _one(spark, F.expr(S.split_part("v", ".", 1)), "a.b.c") == "b"


def test_encode_bool_flag_and_truthy_str(spark):
    df = spark.createDataFrame(
        [("WON",), ("LOST",), (None,), ("",), ("False",)], "state string"
    )
    rows = df.select(
        F.expr(S.encode_bool_flag("state = 'WON'")).alias("won"),
        F.expr(S.truthy_str("state")).alias("truthy"),
    ).collect()
    assert [r["won"] for r in rows] == ["TRUE", "FALSE", "FALSE", "FALSE", "FALSE"]
    # Python truthiness: any non-empty string is True, even 'False'
    assert [r["truthy"] for r in rows] == [True, True, False, False, True]


def test_json_get(spark):
    assert _one(spark, S.json_get("v", "$.a.b"), '{"a": {"b": "x"}}') == "x"
    assert _one(spark, S.json_get("v", "$.missing"), '{"a": 1}') is None


def test_extract_download_href_null_on_miss(spark):
    assert _one(spark, S.extract_download_href("v"), "<p>no anchors</p>") is None
