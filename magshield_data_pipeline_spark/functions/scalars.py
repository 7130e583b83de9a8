"""Scalar functions (SURVEY §2.4 F1–F14) as Spark expressions.

Every helper here builds on JVM-side built-ins so the whole expression
tree stays inside WholeStageCodegen — the reference implements each of
these as a per-row Python helper (e.g. ``clean_text`` at
/root/reference/modules/opportunity.py:115-116, ``format_date`` at
/root/reference/modules/quote.py:175-182); re-running those row-at-a-time in
Python UDFs would be the slow path at 100 TB. The single genuinely
non-relational function (HTML anchor extraction, F11 —
/root/reference/modules/opportunity_stage.py:85-101) gets a regexp fast path
with an optional bs4 fallback.

The helpers the CRM exports use (``clean_text``, ``coalesce_str``, the
``format_date_*`` family, ``split_part``, ``custom_fields_map``,
``cf_get``, ``conditional_link_count``, ``encode_bool_flag``,
``truthy_str``) take and return **SQL expression text**: the exports
compose whole projections as text that the JVM parses once per
``selectExpr`` (see ``exports.py``), where a ``Column`` tree costs one
py4j round trip per node. A ``Column`` caller wraps the text in
``F.expr``. Only code constants (field names, formats, separators) are
interpolated, through :func:`sql_lit`. The remaining helpers return
``Column``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_lit(s: str) -> str:
    """A Python string constant as a SQL string literal (backslashes and
    quotes escaped for Spark's default string-literal parsing)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


# ---------------------------------------------------------------------------
# text cleanup


def clean_text(e: str) -> str:
    """F1 — collapse CR/LF to spaces and trim.

    Semantics of ``clean_text`` (/root/reference/modules/opportunity.py:115-116,
    invoice.py:125-126, equiment.py:120-121, organisation.py:101-104): each
    ``\\r`` and ``\\n`` becomes one space, then the ends are stripped.
    Nulls pass through (the reference passes non-strings through).
    """
    return rf"trim(regexp_replace({e}, '[\\r\\n]', ' '))"


def coalesce_str(*exprs: str) -> str:
    """P3/P4 — first non-null value, defaulting to ``''``.

    Mirrors the reference's ``.get(k, "") or fallback`` chains
    (/root/reference/modules/quote.py:220,226).
    """
    return f"coalesce({', '.join(exprs)}, '')"


# ---------------------------------------------------------------------------
# date formatting (F2–F4): parse-or-passthrough semantics

_REF_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def try_format_date(e: str, in_fmt: str, out_fmt: str) -> str:
    """Shared combinator for F2–F4: reformat if parseable, else return the
    input string unchanged (the reference catches the parse error and
    returns the raw value — /root/reference/modules/quote.py:175-182).
    Output is therefore StringType, never Timestamp.
    """
    return (f"coalesce(date_format(try_to_timestamp({e}, {sql_lit(in_fmt)}), "
            f"{sql_lit(out_fmt)}), {e})")


def format_date_quote(e: str) -> str:
    """F2 — ``'2025-08-25 20:41:00'`` → ``'25-Aug-25 8:41 PM'``
    (/root/reference/modules/quote.py:175-182; ``%-I`` → Spark ``h``)."""
    return try_format_date(e, _REF_TS_FMT, "dd-MMM-yy h:mm a")


def format_date_only(e: str) -> str:
    """F3 — → ``'MM/dd/yyyy'`` (/root/reference/modules/task.py:109-116,
    organisation.py:108-116)."""
    return try_format_date(e, _REF_TS_FMT, "MM/dd/yyyy")


def format_date_ui(e: str) -> str:
    """F4 — take the date part before ``' '``, emit ``'dd/MM/yyyy'``
    (/root/reference/modules/invoice.py:137-145); fallback = original
    full string."""
    return (f"coalesce(date_format(try_to_timestamp(get(split({e}, ' '), 0), "
            f"'yyyy-MM-dd'), 'dd/MM/yyyy'), {e})")


# ---------------------------------------------------------------------------
# name / key formatting (F5–F7)


def full_name(first: Column | str, last: Column | str) -> Column:
    """F5 — ``f'{FIRST} {LAST}'.strip()`` with ``''`` defaults
    (/root/reference/modules/quote.py:129, task.py:190-197)."""
    f = F.col(first) if isinstance(first, str) else first
    l = F.col(last) if isinstance(last, str) else last
    return F.trim(
        F.concat_ws(" ", F.coalesce(f, F.lit("")), F.coalesce(l, F.lit("")))
    )


def composite_key(id_col: Column | str, name_col: Column | str) -> Column:
    """F6 — ``'USER_ID;First Last'`` composite map value
    (/root/reference/modules/opportunity.py:132-133, invoice.py:101-106)."""
    i = F.col(id_col) if isinstance(id_col, str) else id_col
    n = F.col(name_col) if isinstance(name_col, str) else name_col
    return F.concat_ws(";", i.cast("string"), n)


def split_part(e: str, delim: str, index: int) -> str:
    """F7 — ``val.split(delim)[index]``
    (/root/reference/modules/opportunity.py:230-231). Null-safe: out-of-range
    or null input yields null (caller coalesces).

    The delimiter is a *literal* string (Python ``str.split`` semantics),
    so it is regex-escaped before reaching ``split``'s Java-regex
    parameter — ``'||'`` and ``'.'`` are live delimiters in this codebase
    (equipment's ``'Name||ID||User'`` keys, equiment.py:104-111).
    """
    # get is 0-based like Python indexing and yields null (never an
    # INVALID_ARRAY_INDEX abort) when the index is out of range — the
    # documented contract, independent of the ANSI conf
    return f"get(split({e}, {sql_lit(re.escape(delim))}), {int(index)})"


def org_owner_site_key(
    name: Column | str, rec_id: Column | str, user: Column | str
) -> Column:
    """F7 — equipment's ``'Name||ID||User'`` key
    (/root/reference/modules/equiment.py:104-111)."""
    cols = [F.col(x) if isinstance(x, str) else x for x in (name, rec_id, user)]
    return F.concat_ws("||", *[c.cast("string") for c in cols])


def join_nonempty(arr: Column | str, sep: str = " and ") -> Column:
    """F8 — ``sep.join(x for x in arr if x)``
    (/root/reference/modules/opportunity.py:196)."""
    col = F.col(arr) if isinstance(arr, str) else arr
    return F.array_join(
        F.filter(col, lambda x: x.isNotNull() & (x != F.lit(""))), sep
    )


# ---------------------------------------------------------------------------
# nested-array helpers (P1, P7, F9)


def custom_fields_map(e: str = "CUSTOMFIELDS") -> str:
    """P1 — ``{FIELD_NAME: FIELD_VALUE}`` dict build
    (/root/reference/modules/quote.py:202 et al.) via ``map_from_entries``.
    Null array → empty map. Requires ``spark.sql.mapKeyDedupPolicy=LAST_WIN``
    (set by the session factory) to match Python-dict last-wins semantics.
    """
    return f"map_from_entries(coalesce({e}, array()))"


def cf_get(m: str, key: str, default: str = "") -> str:
    """``cf.get(key, default)`` over a custom-fields map; missing or null
    value → *default* (matches the reference's ``or ""`` guards)."""
    return f"coalesce(element_at({m}, {sql_lit(key)}), {sql_lit(default)})"


def conditional_link_count(links: str, object_name: str) -> str:
    """F9/A2 — ``sum(1 for l in LINKS if l.LINK_OBJECT_NAME==x)``
    (/root/reference/modules/organisation.py:124). Null LINKS → 0 (the
    reference defaults to ``[]``). The filter keeps the LINKS entries of
    one ``LINK_OBJECT_NAME`` (P7, opportunity.py:192-195)."""
    return (f"size(filter(coalesce({links}, array()), "
            f"l -> l.LINK_OBJECT_NAME = {sql_lit(object_name)}))")


# ---------------------------------------------------------------------------
# CASE / boolean encoders (P5)


def encode_bool_flag(cond: str) -> str:
    """P5 — ``"TRUE" if cond else "FALSE"``
    (/root/reference/modules/opportunity.py:221)."""
    return f"CASE WHEN {cond} THEN 'TRUE' ELSE 'FALSE' END"


def truthy_str(e: str) -> str:
    """P5 — Python truthiness of a string value:
    ``bool(cf.get("Active__c", False))``
    (/root/reference/modules/organisation.py:127). Any non-empty string
    (including ``'False'``) is True; null/missing/'' is False."""
    return f"CASE WHEN {e} IS NOT NULL AND {e} != '' THEN true ELSE false END"


# ---------------------------------------------------------------------------
# encoding / url / path / json (F10–F14)


def json_get(c: Column | str, path: str) -> Column:
    """F13 — JSON field access on a JSON-string column
    (/root/reference/modules/quote.py:110 consumes point-lookup JSON).
    ``path`` is a JSONPath like ``$.k``."""
    col = F.col(c) if isinstance(c, str) else c
    return F.get_json_object(col, path)


def share_token(url: Column | str) -> Column:
    """F10 — OneDrive ``u!`` url-safe-base64 share token
    (/root/reference/modules/one_drive.py:93-96): b64encode → strip
    trailing ``=`` → ``/``→``_``, ``+``→``-`` → prefix ``u!``."""
    col = F.col(url) if isinstance(url, str) else url
    b64 = F.base64(col.cast("binary"))
    return F.concat(
        F.lit("u!"), F.translate(F.regexp_replace(b64, "=+$", ""), "/+", "_-")
    )


def extract_download_href(html: Column | str, anchor_text: str = "Download Report") -> Column:
    """F11 — pull the ``href`` of the ``<a>`` whose text contains
    *anchor_text* (/root/reference/modules/opportunity_stage.py:85-101).

    Implemented as a regexp over the serialized HTML (JVM-side); the
    reference uses BeautifulSoup. For adversarial HTML a bs4-backed Python
    UDF would be the fallback, but the emailed report's markup is
    machine-generated and regular.
    """
    col = F.col(html) if isinstance(html, str) else html
    pattern = '<a[^>]*href="([^"]*)"[^>]*>[^<]*' + re.escape(anchor_text)
    # regexp_extract yields '' on no match; the reference's bs4 path
    # returns None — nullif restores null-on-miss semantics.
    return F.nullif(F.regexp_extract(col, pattern, 1), F.lit(""))


def url_query_param(url: Column | str, key: str) -> Column:
    """F12 — recover a query parameter and URL-decode it
    (/root/reference/modules/opportunity_stage.py:103-115)."""
    col = F.col(url) if isinstance(url, str) else url
    return F.url_decode(F.parse_url(col, F.lit("QUERY"), F.lit(key)))


def basename(path: Column | str) -> Column:
    """F14 — ``os.path.basename``
    (/root/reference/modules/one_drive.py:110,192)."""
    col = F.col(path) if isinstance(path, str) else path
    return F.element_at(F.split(col, "/"), -1)
