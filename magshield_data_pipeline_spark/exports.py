"""CRM export pipelines re-expressed as pure ``DataFrame → DataFrame``
functions (SURVEY §7 steps 3–4).

Each function mirrors one reference export's semantics — same output
column names, same quirks — with I/O kept outside (sources feed in,
sinks consume the result), so every pipeline is unit-testable on
fixtures.

**Dim-size contract (broadcast gating).** The reference realizes every
lookup join as an in-memory dict probe
(/root/reference/modules/opportunity.py:128-147), which is only sound
because its dims (users, organisations, stages, …) are
dimension-sized. Each join-bearing export takes ``broadcast_dims``
(default True = reference-faithful: dims fit one executor, plans are
exchange-free except the final dropDuplicates). Callers whose "dim"
inputs scale with the fact side — e.g. the oracle-parity registry
queries, which derive dims from customer/supplier frames that grow
with SF — MUST pass ``broadcast_dims=False``; the joins then carry no
hint and AQE picks broadcast vs shuffle from observed sizes at
runtime, so a 100× scale-up cannot force a multi-GB broadcast.

Quirks preserved (SURVEY §2.9):
- Q1 invoice: ``Site_Organization__c`` is read then overwritten by
  ``Site_Name_Invoice__c`` before use (invoice.py:172-179) — the
  effective site key is ``Site_Name_Invoice__c``; we implement the
  effective behavior.
- Q2 opportunity: "Expected Revenue" duplicates OPPORTUNITY_VALUE.
- Q3 quote: ``str(cf.get("Sales_Person__c", ""))`` emits the literal
  ``'None'`` when the field exists with a null value (quote.py:215).
- Q4 invoice: ``format_owner_for_invoice`` documents 'Name||ID||User'
  but actually returns the 'ID;Name' composite unchanged
  (invoice.py:128-135); equipment's ``format_org_owner_site`` does emit
  'Name||ID||User' (equiment.py:104-111).
- Q5 task: later links overwrite earlier ones per type, and an
  Opportunity link back-fills the linked organisation from the
  opportunity's org unless a later Organisation link overrides it
  (task.py:223-246).
- Q7: dropDuplicates runs on the fully-formatted output, not raw rows.

**Projections are SQL expression text.** Every row-level projection
(dim projections, the CUSTOMFIELDS lookups, the CASE chains, the
group-by aggregates, the ``transform``/``filter`` lambdas) is written as
SQL text and handed to ``selectExpr`` / ``F.expr``, so the JVM parses a
whole projection in one call. Composing the same trees as ``Column``
objects costs one py4j round trip per node: the quote export built in
2,524 round trips and the opportunity export in 5,148 (sf0.001, reads
warm, counted on the building thread); as text they build in 136 and
328, and Catalyst analyzes the text to the same optimized plan
(``tests/test_exports.py::test_export_build_round_trips`` bounds each
export). The joins, the broadcast gate and ``dropDuplicates`` stay
DataFrame calls. Each quirk is one text helper here or in
``functions/scalars.py``; only code constants (field names, formats,
separators) are interpolated into the text, through ``sql_lit``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from magshield_data_pipeline_spark.functions import scalars as S
from magshield_data_pipeline_spark.functions.scalars import sql_lit
from magshield_data_pipeline_spark.sources.parquet import ensure_runtime_confs

# ---------------------------------------------------------------------------
# shared helpers (the quirk helpers return SQL expression text)


def _ensure_confs(df: DataFrame) -> None:
    """Exports are pure functions usable from ANY caller session (no
    read_table in the path), but the CUSTOMFIELDS map build needs
    LAST_WIN dedup and date formatting needs UTC — set the runtime
    confs from the input frame's own session."""
    ensure_runtime_confs(df.sparkSession)


def _dim(df: DataFrame, hint: bool, *exprs: str) -> DataFrame:
    """The projection *exprs* of *df* (all of it when none are given),
    with the broadcast hint only under the dim-size contract (module
    header): ``hint=False`` leaves join-strategy choice to AQE."""
    df = df.selectExpr(*exprs) if exprs else df
    return F.broadcast(df) if hint else df


def _with_cf(df: DataFrame) -> DataFrame:
    """*df* plus its CUSTOMFIELDS dict as the map column ``_cf``."""
    return df.selectExpr("*", f"{S.custom_fields_map()} AS _cf")


def _cfv(key: str, m: str = "_cf") -> str:
    """``cf[key]`` — null when the key is missing or its value is null."""
    return f"element_at({m}, {sql_lit(key)})"


def _cf_key_join(key: str, id_col: str):
    """Join condition: custom field *key*, try-cast to BIGINT, = *id_col*."""
    return F.expr(f"try_cast({_cfv(key)} AS BIGINT) = {id_col}")


def _cf_str_none(key: str) -> str:
    """Q3 — ``str(cf.get(key, ""))``: missing key → '', present-but-null
    value → the literal string 'None'."""
    return (f"CASE WHEN NOT map_contains_key(_cf, {sql_lit(key)}) THEN '' "
            f"WHEN {_cfv(key)} IS NULL THEN 'None' ELSE {_cfv(key)} END")


def _cf_fallback(key: str, fallback: str) -> str:
    """``cf.get(key, fallback)`` — the fallback applies only when the KEY
    is missing, not when its value is empty (quote.py:212)."""
    return (f"CASE WHEN map_contains_key(_cf, {sql_lit(key)}) "
            f"THEN {_cfv(key)} ELSE {fallback} END")


def _first_nonempty(*exprs: str) -> str:
    """Python ``a or b or ""`` chain: skip null AND empty-string values."""
    return S.coalesce_str(*[f"nullif({e}, '')" for e in exprs])


# 'First Last' — f-string, no strip (task.py:190-197)
_FULL_NAME = "concat(coalesce(FIRST_NAME, ''), ' ', coalesce(LAST_NAME, ''))"
# 'USER_ID;First Last' — f-string semantics, no strip (invoice.py:101-106,
# task.py:186-189); the owner lookup of invoice, equipment, task and
# opportunity
_OWNER_DIM = (
    "USER_ID AS _uid",
    "concat(CAST(USER_ID AS STRING), ';', coalesce(FIRST_NAME, ''), ' ', "
    "coalesce(LAST_NAME, '')) AS _owner",
)


def _clean_str(e: str) -> str:
    """F1 over the ``''``-defaulted value."""
    return S.clean_text(S.coalesce_str(e))


def _cf_clean(key: str) -> str:
    """F1 over ``cf.get(key, "")``."""
    return S.clean_text(S.cf_get("_cf", key))


# ---------------------------------------------------------------------------
# users export — /root/reference/modules/users.py:113-142 (P2 + A4)

_USER_COLS = [
    "USER_ID", "CONTACT_ID", "FIRST_NAME", "LAST_NAME", "TIMEZONE_ID",
    "EMAIL_ADDRESS", "EMAIL_DROPBOX_IDENTIFIER", "EMAIL_DROPBOX_ADDRESS",
    "ADMINISTRATOR", "ACCOUNT_OWNER", "ACTIVE", "DATE_CREATED_UTC",
    "DATE_UPDATED_UTC", "USER_CURRENCY", "CONTACT_DISPLAY", "CONTACT_ORDER",
    "TASK_WEEK_START", "INSTANCE_ID", "PROFILE_ID", "ROLE_ID",
]


def users_export(users: DataFrame) -> DataFrame:
    """Pure projection + full-row dedup; column order as the reference
    emits it."""
    return users.select(*_USER_COLS).dropDuplicates()


# ---------------------------------------------------------------------------
# organisation export — /root/reference/modules/organisation.py:120-144
# (P1 map, F9 conditional count, F3 date, P5 bool-truthiness)


def organisation_export(orgs: DataFrame) -> DataFrame:
    _ensure_confs(orgs)
    cf = S.custom_fields_map()
    return orgs.selectExpr(
        "ORGANISATION_ID AS `Organization ID`",
        f"{_clean_str('ORGANISATION_NAME')} AS `Organization Name`",
        f"{S.format_date_only(S.coalesce_str('DATE_CREATED_UTC'))} AS `Date Created`",
        f"{S.conditional_link_count('LINKS', 'Contact')} AS `Linked Contacts Count`",
        # P5: bool(cf.get("Active__c", False)) — Python truthiness of the
        # string value: any non-empty string (even 'False') is True
        f"{S.truthy_str(_cfv('Active__c', cf))} AS `Focus Organization`",
        f"{S.cf_get(cf, 'Call_Frequency__c')} AS `Call Frequency`",
        f"{S.cf_get(cf, 'Industry__c')} AS `Industry`",
        f"{S.cf_get(cf, 'Region__c')} AS `Region`",
        f"{S.cf_get(cf, 'Sales_Methodology_Type__c')} AS `Customer Type`",
        f"{S.cf_get(cf, 'Organization_Type__c')} AS `Organization Type`",
        f"{S.coalesce_str('ADDRESS_BILLING_COUNTRY')} AS `Billing Country`",
    ).dropDuplicates()


# ---------------------------------------------------------------------------
# quote export — /root/reference/modules/quote.py:195-242
# (J1-J3 broadcast lookups, P4 coalesce-across-sources, F2 dates, Q3)


def quote_export(
    quotes: DataFrame,
    opportunities: DataFrame,
    organisations: DataFrame,
    contacts: DataFrame,
    broadcast_dims: bool = True,
) -> DataFrame:
    _ensure_confs(quotes)
    opp = _dim(opportunities, broadcast_dims,
               "OPPORTUNITY_ID AS _opp_id", "OPPORTUNITY_NAME AS _opp_name")
    org = _dim(organisations, broadcast_dims,
               "ORGANISATION_ID AS _org_id", "ORGANISATION_NAME AS _org_name")
    # sales person joins on the custom-field value (J3); the reference's
    # fetch_contact strips the full name (quote.py:122-131)
    con = _dim(contacts, broadcast_dims,
               "CONTACT_ID AS _con_id", f"trim({_FULL_NAME}) AS _con_name")
    joined = (
        _with_cf(quotes)
        .join(opp, F.expr("OPPORTUNITY_ID = _opp_id"), "left")
        .join(org, F.expr("ORGANISATION_ID = _org_id"), "left")
        .join(con, _cf_key_join("Sales_Person__c", "_con_id"), "left")
    )
    return joined.selectExpr(
        "QUOTE_ID AS `Record ID`",
        "QUOTATION_NUMBER AS `Quote Number`",
        "QUOTE_STATUS AS `Status`",
        "QUOTATION_NAME AS `Quote Name`",
        "SUBTOTAL AS `Subtotal`",
        "TOTAL_PRICE AS `Total Price`",
        "QUOTATION_EXPIRATION_DATE AS `Expiration Date`",
        f"{S.cf_get('_cf', 'GST_Percentage__c')} AS `GST %`",
        f"{S.cf_get('_cf', 'Tax__c')} AS `Tax`",
        # fallback only when the key is missing (quote.py:212)
        f"{_cf_fallback('Grand_Total__c', 'CAST(GRAND_TOTAL AS STRING)')} AS `Grand Total`",
        f"{S.cf_get('_cf', 'Trade_Tariff__c')} AS `Trade Tariff`",
        f"{S.cf_get('_cf', 'Grand_Total_Tariff__c')} AS `Grand Total w/ Tariff`",
        f"{S.cf_get('_cf', 'MagShield_Selling_Entity__c')} AS `MagShield Selling Entity`",
        f"{_cf_str_none('Sales_Person__c')} AS `Sales Person Id`",  # Q3
        f"{S.coalesce_str('_con_name')} AS `Sales Person`",
        "ADDRESS_BILLING_COUNTRY AS `Billing Country`",
        "QUOTATION_CURRENCY_CODE AS `Currency`",
        "DISCOUNT AS `Discount`",
        # P4: prefer the inline name, else the joined dim's name
        f"{_first_nonempty('ORGANISATION_NAME', '_org_name')} AS `Organization Name`",
        "ORGANISATION_ID AS `Record ID_1`",
        f"{S.format_date_quote(S.coalesce_str('DATE_CREATED_UTC'))} AS `Date Created`",
        f"{S.format_date_quote(S.coalesce_str('DATE_UPDATED_UTC'))} AS `Date Updated`",
        f"{_first_nonempty('OPPORTUNITY_NAME', '_opp_name')} AS `Opportunity Name`",
        f"{S.cf_get('_cf', 'Shipping_Terms__c')} AS `Shipping_Terms__c`",
        f"{S.coalesce_str('ADDRESS_SHIPPING_COUNTRY')} AS `ADDRESS_SHIPPING_COUNTRY`",
    ).dropDuplicates()


# ---------------------------------------------------------------------------
# invoice export — /root/reference/modules/invoice.py:162-206
# (J13 struct-payload org dim ×3 roles, Q1, Q4, F4 dates)


def _org_struct_dim(organisations: DataFrame) -> DataFrame:
    """The invoice pipeline's org lookup carries a struct payload:
    name + two custom fields (invoice.py:108-120)."""
    cf = S.custom_fields_map()
    return organisations.selectExpr(
        "ORGANISATION_ID AS _oid",
        f"{S.coalesce_str('ORGANISATION_NAME')} AS _oname",
        f"{S.cf_get(cf, 'Organization_Type__c')} AS _otype",
        f"{S.cf_get(cf, 'Region__c')} AS _oregion",
    )


def invoice_export(
    invoices: DataFrame,
    users: DataFrame,
    organisations: DataFrame,
    broadcast_dims: bool = True,
) -> DataFrame:
    _ensure_confs(invoices)
    org = _org_struct_dim(organisations)

    def org_role(alias: str) -> DataFrame:
        return _dim(org, broadcast_dims, f"_oid AS {alias}_id", f"_oname AS {alias}_name",
                    f"_otype AS {alias}_type", f"_oregion AS {alias}_region")

    joined = (
        _with_cf(invoices)
        .join(_dim(users, broadcast_dims, *_OWNER_DIM), F.expr("OWNER_USER_ID = _uid"), "left")
        .join(org_role("_inv"), _cf_key_join("Invoiced_Organization__c", "_inv_id"), "left")
        # Q1: the effective site key is Site_Name_Invoice__c — the
        # reference assigns Site_Organization__c then overwrites it
        .join(org_role("_site"), _cf_key_join("Site_Name_Invoice__c", "_site_id"), "left")
        .join(org_role("_chan"), _cf_key_join("Channel_Partner_Invoiced__c", "_chan_id"), "left")
    )
    return joined.selectExpr(
        f"{_clean_str('RECORD_NAME')} AS `Invoice Number`",
        "RECORD_ID AS `Record ID`",
        # Q4: format_owner_for_invoice returns the 'ID;Name' composite
        # unchanged despite its docstring
        f"{_clean_str('_owner')} AS `Owner`",
        f"{S.format_date_ui(S.cf_get('_cf', 'Invoice_Date__c'))} AS `Invoice Date`",
        f"{_cf_clean('Invoiced_Item__c')} AS `Item ID`",
        f"{_cf_clean('Invoiced_Amount__c')} AS `Invoiced Amount`",
        f"{_cf_clean('Invoice_Currency__c')} AS `Invoice Currency`",
        f"{_cf_clean('PO_Number__c')} AS `PO Number`",
        f"{_cf_clean('Item_Quantity__c')} AS `Item Quantity`",
        f"{_cf_clean('Invoiced_Product_Type__c')} AS `Product Type`",
        f"{_cf_clean('Invoiced_Product_for_Equipment_Type__c')} AS `Equipment Type`",
        f"{_clean_str('_inv_name')} AS `Entity Owning Equipment`",
        f"{_clean_str('_inv_type')} AS `Organization Type`",
        f"{_clean_str('_inv_region')} AS `Region`",
        f"{_clean_str('_site_name')} AS `Site Name`",
        f"{_clean_str('_site_type')} AS `Organization Type_1`",
        f"{_clean_str('_site_region')} AS `Region_2`",
        f"{_clean_str('_chan_name')} AS `Channel Partner`",
        f"{_clean_str('_chan_type')} AS `Organization Type_3`",
        f"{_clean_str('_chan_region')} AS `Region_4`",
        f"{_cf_clean('Invoice_Num__c')} AS `Invoice #`",
        f"{_cf_clean('Invoiced_Amount_in_CAD__c')} AS `Invoiced Amount in CAD`",
    ).dropDuplicates()


# ---------------------------------------------------------------------------
# equipment export — /root/reference/modules/equiment.py:136-168
# (J14 lookups, F7 'Name||ID||User' key)


def equipment_export(
    equipment: DataFrame,
    users: DataFrame,
    organisations: DataFrame,
    broadcast_dims: bool = True,
) -> DataFrame:
    _ensure_confs(equipment)
    org = _dim(organisations, broadcast_dims,
               "ORGANISATION_ID AS _oid", f"{S.coalesce_str('ORGANISATION_NAME')} AS _oname")
    joined = (
        _with_cf(equipment)
        .join(_dim(users, broadcast_dims, *_OWNER_DIM), F.expr("OWNER_USER_ID = _uid"), "left")
        .join(
            org.selectExpr("_oid AS _ent_id", "_oname AS _ent_name"),
            _cf_key_join("Entity_Owning_Equipment_Equipment__c", "_ent_id"),
            "left",
        )
        .join(
            org.selectExpr("_oid AS _site_id", "_oname AS _site_name"),
            _cf_key_join("Site_Name_Equipment__c", "_site_id"),
            "left",
        )
    )
    # 'First Last||USER_ID||User' from the 'ID;First Last' composite —
    # '' when there is no owner composite (equiment.py:104-111)
    owner_site = (
        "CASE WHEN _owner IS NULL OR _owner = '' THEN '' ELSE concat_ws('||', "
        f"{S.split_part('_owner', ';', 1)}, {S.split_part('_owner', ';', 0)}, 'User') END"
    )
    return joined.selectExpr(
        "RECORD_ID AS `Record ID`",
        f"{_clean_str('RECORD_NAME')} AS `Equipment Mine - Make - Model`",
        f"{_clean_str('_owner')} AS `Owner`",
        "DATE_CREATED_UTC AS `Date Created`",
        "DATE_UPDATED_UTC AS `Date Updated`",
        f"{_cf_str_none('Entity_Owning_Equipment_Equipment__c')} AS `Record ID_1`",
        f"{_clean_str('_ent_name')} AS `Entity Owning Equipment`",
        f"{owner_site} AS `Organization`",
        f"{_cf_str_none('Site_Name_Equipment__c')} AS `Record ID_2`",
        f"{_clean_str('_site_name')} AS `Site Name`",
        f"{owner_site} AS `Organization Owner_3`",
        f"{_cf_clean('Equipment_Type_Equipment__c')} AS `Equipment Type`",
        f"{_cf_clean('Equipment_Make_Equipment__c')} AS `Equipment Make`",
        f"{_cf_clean('Equipment_Model_Equipment__c')} AS `Equipment Model`",
        f"{S.cf_get('_cf', 'Equipment_Quantity_Equipment__c')} AS `Equipment Quantity`",
        f"{_cf_clean('Serial_Number_Notes__c')} AS `Serial Number Notes`",
        f"{S.cf_get('_cf', 'Last_Date_of_Equipment_Details_Confirmed__c')} "
        "AS `Last_Date_of_Equipment_Details_Confirmed__c`",
    ).dropDuplicates()


# ---------------------------------------------------------------------------
# task export — /root/reference/modules/task.py:220-267
# (J10 link dispatch ×6 types, J11 opp→org 2-hop backfill, Q5 last-wins)


def task_export(
    tasks: DataFrame,
    categories: DataFrame,
    users: DataFrame,
    contacts: DataFrame,
    leads: DataFrame,
    opportunities: DataFrame,
    organisations: DataFrame,
    projects: DataFrame,
    notes: DataFrame,
    broadcast_dims: bool = True,
) -> DataFrame:
    _ensure_confs(tasks)

    # --- dim lookups (hinted per the dim-size contract; the reference
    # probes dicts) ---
    def dim(df: DataFrame, *exprs: str) -> DataFrame:
        return _dim(df, broadcast_dims, *exprs)

    cat = dim(categories, "CATEGORY_ID AS _cat_id", f"{S.coalesce_str('CATEGORY_NAME')} AS _cat_name")
    con = dim(contacts, "CONTACT_ID AS _con_id", f"{_FULL_NAME} AS _con_name")
    led = dim(leads, "LEAD_ID AS _led_id", f"{_FULL_NAME} AS _led_name")
    opp = dim(
        opportunities,
        "OPPORTUNITY_ID AS _opp_id",
        f"{S.coalesce_str('OPPORTUNITY_NAME')} AS _opp_name",
        "ORGANISATION_ID AS _opp_org_id",
    )
    org = dim(organisations, "ORGANISATION_ID AS _org_id",
              f"{S.coalesce_str('ORGANISATION_NAME')} AS _org_name")
    # second aliased copy for the opportunity-backfill hop (J4-style)
    org2 = dim(organisations, "ORGANISATION_ID AS _org2_id",
               f"{S.coalesce_str('ORGANISATION_NAME')} AS _org2_name")
    prj = dim(projects, "PROJECT_ID AS _prj_id", f"{S.coalesce_str('PROJECT_NAME')} AS _prj_name")
    nte = dim(notes, "NOTE_ID AS _nte_id", f"{S.coalesce_str('TITLE')} AS _nte_name")

    # --- explode LINKS preserving array order (Q5 is order-sensitive) ---
    exploded = tasks.selectExpr(
        "TASK_ID", "posexplode_outer(LINKS) AS (_pos, _lnk)"
    ).selectExpr(
        "TASK_ID", "_pos", "_lnk.LINK_OBJECT_NAME AS _typ", "_lnk.LINK_OBJECT_ID AS _lid"
    )

    def typed(typ: str, id_col: str):
        return F.expr(f"_typ = {sql_lit(typ)} AND _lid = {id_col}")

    routed = (
        exploded.join(con, typed("Contact", "_con_id"), "left")
        .join(led, typed("Lead", "_led_id"), "left")
        .join(opp, typed("Opportunity", "_opp_id"), "left")
        .join(org, typed("Organisation", "_org_id"), "left")
        .join(org2, F.expr("_opp_org_id = _org2_id"), "left")
        .join(prj, typed("Project", "_prj_id"), "left")
        .join(nte, typed("Note", "_nte_id"), "left")
    )

    def last_wins(candidate: str, value: str, alias: str):
        """Q5: the value of the LAST link (by array position) satisfying
        *candidate*; '' when none does. Rows that are not candidates get
        position -1 so they only win when no candidate exists (their
        value is null → coalesced to '')."""
        return F.expr(
            f"coalesce(max_by(CASE WHEN {candidate} THEN coalesce({value}, '') END, "
            f"CASE WHEN {candidate} THEN _pos ELSE -1 END), '') AS {alias}"
        )

    def is_(typ: str) -> str:
        return f"(_typ = {sql_lit(typ)})"

    # linked_org: set by an Organisation link OR back-filled through an
    # Opportunity link whose opp carries a (truthy) org id (task.py:233-241)
    org_cand = (f"({is_('Organisation')} OR ({is_('Opportunity')} "
                "AND _opp_org_id IS NOT NULL AND _opp_org_id != 0))")
    org_val = (f"CASE WHEN {is_('Organisation')} THEN coalesce(_org_name, '') "
               "ELSE coalesce(_org2_name, '') END")

    links_resolved = routed.groupBy("TASK_ID").agg(
        last_wins(is_("Contact"), "coalesce(_con_name, '')", "_linked_contact"),
        last_wins(is_("Lead"), "coalesce(_led_name, '')", "_linked_lead"),
        last_wins(is_("Opportunity"), "_opp_name", "_linked_opp"),
        last_wins(org_cand, org_val, "_linked_org"),
        last_wins(is_("Project"), "_prj_name", "_linked_proj"),
        last_wins(is_("Note"), "_nte_name", "_linked_note"),
    )

    enriched = (
        tasks.join(links_resolved, "TASK_ID", "left")
        .join(cat, F.expr("CATEGORY_ID = _cat_id"), "left")
        .join(_dim(users, broadcast_dims, *_OWNER_DIM), F.expr("OWNER_USER_ID = _uid"), "left")
    )
    date = lambda c: S.format_date_only(S.coalesce_str(c))  # noqa: E731
    return enriched.selectExpr(
        "TASK_ID AS `TaskID`",
        f"{S.coalesce_str('_cat_name')} AS `Category`",
        "STATUS AS `Status`",
        "PERCENT_COMPLETE AS `Percent Complete`",
        "PRIORITY AS `Priority`",
        f"{S.coalesce_str('_owner')} AS `Owner Name`",
        "ASSIGNED_TEAM_ID AS `Assigned To Team`",
        f"{date('ASSIGNED_DATE_UTC')} AS `Date Assigned`",
        f"{date('DATE_CREATED_UTC')} AS `Date Created`",
        f"{date('REMINDER_DATE_UTC')} AS `Date Reminder`",
        f"{date('DUE_DATE')} AS `Date Due`",
        f"{date('COMPLETED_DATE_UTC')} AS `Date Completed`",
        f"{S.coalesce_str('_linked_contact')} AS `Linked Contact`",
        f"{S.coalesce_str('_linked_lead')} AS `Linked Lead`",
        f"{S.coalesce_str('_linked_opp')} AS `Linked Opportunity`",
        f"{S.coalesce_str('_linked_org')} AS `Linked Organization`",
        f"{S.coalesce_str('_linked_proj')} AS `Linked Project`",
        f"{S.coalesce_str('_linked_note')} AS `Linked Note`",
    ).dropDuplicates()


# ---------------------------------------------------------------------------
# opportunity export — /root/reference/modules/opportunity.py:122-258
# (the flagship: J4-J9, fan-out J8, P5, Q2)


def opportunity_export(
    opportunities: DataFrame,
    organisations: DataFrame,
    users: DataFrame,
    pricebooks: DataFrame,
    products: DataFrame,
    state_reasons: DataFrame,
    stages: DataFrame,
    pricebook_entries: DataFrame,
    line_items: DataFrame,
    opportunity_links: DataFrame,
    broadcast_dims: bool = True,
) -> DataFrame:
    _ensure_confs(opportunities)

    def dim(df: DataFrame, *exprs: str) -> DataFrame:
        return _dim(df, broadcast_dims, *exprs)

    org = organisations.selectExpr(
        "ORGANISATION_ID AS _oid", f"{S.coalesce_str('ORGANISATION_NAME')} AS _oname"
    )

    def org_role(alias: str) -> DataFrame:
        return dim(org, f"_oid AS {alias}_id", f"_oname AS {alias}_name")

    stg = dim(stages, "STAGE_ID AS _stg_id", f"{S.coalesce_str('STAGE_NAME')} AS _stg_name")
    rsn = dim(state_reasons, "STATE_REASON_ID AS _rsn_id",
              f"{S.coalesce_str('STATE_REASON')} AS _rsn_name")
    pbk = dim(pricebooks, "PRICEBOOK_ID AS _pbk_id", f"{S.coalesce_str('NAME')} AS _pbk_name")
    prd = dim(products, "PRODUCT_ID AS _prd_id", f"{S.coalesce_str('PRODUCT_FAMILY')} AS _prd_family")

    # J7: line items → pricebook entries → product ids per opportunity
    products_per_opp = (
        line_items.join(_dim(pricebook_entries, broadcast_dims), "PRICEBOOK_ENTRY_ID")
        .groupBy(F.expr("OPPORTUNITY_ID AS _po_opp"))
        .agg(F.expr("sort_array(collect_list(PRODUCT_ID)) AS _product_ids"))
    )

    # J9: site names — Organisation links of the opportunity, excluding
    # its main org, names joined with ' and ' dropping empties
    # (opportunity.py:190-196). Deterministic order: link object id.
    site_names = (
        opportunity_links.filter("OBJECT_NAME = 'Opportunity'")
        .filter("LINK_OBJECT_NAME = 'Organisation'")
        .join(_dim(org, broadcast_dims), F.expr("LINK_OBJECT_ID = _oid"), "left")
        .groupBy(F.expr("OBJECT_ID AS _sn_opp"))
        .agg(F.expr("array_sort(collect_list(struct(LINK_OBJECT_ID, _oid, _oname))) AS _site_structs"))
    )

    joined = (
        _with_cf(opportunities)
        .join(org_role("_main"), F.expr("ORGANISATION_ID = _main_id"), "left")
        .join(org_role("_ent"), _cf_key_join("Entity_Owning_Equipment__c", "_ent_id"), "left")
        .join(org_role("_chan"), _cf_key_join("Channel_Owner__c", "_chan_id"), "left")
        .join(_dim(users, broadcast_dims, *_OWNER_DIM), F.expr("OWNER_USER_ID = _uid"), "left")
        .join(stg, F.expr("STAGE_ID = _stg_id"), "left")
        .join(rsn, F.expr("STATE_REASON_ID = _rsn_id"), "left")
        .join(pbk, F.expr("PRICEBOOK_ID = _pbk_id"), "left")
        .join(products_per_opp, F.expr("OPPORTUNITY_ID = _po_opp"), "left")
        .join(site_names, F.expr("OPPORTUNITY_ID = _sn_opp"), "left")
    )

    # the reference compares STRINGS with ''-defaults (opportunity.py:
    # 190-196: main_org = str(... or '')), so a null main org keeps every
    # linked site org — a raw column comparison would null out and drop
    # them all
    site_name = (
        "array_join(filter(transform(coalesce(_site_structs, array()), "
        "s -> CASE WHEN coalesce(CAST(s.LINK_OBJECT_ID AS STRING), '') "
        "!= coalesce(CAST(ORGANISATION_ID AS STRING), '') "
        "THEN coalesce(s._oname, '') ELSE '' END), x -> x != ''), ' and ')"
    )

    # J8 fan-out: one row per product id; zero products → one row, pid ''
    fanned = joined.selectExpr("*", "explode_outer(_product_ids) AS _pid").join(
        prd, F.expr("_pid = _prd_id"), "left"
    )

    # Trial?: str(cf.get('Trial__c', False)).upper() — missing → 'FALSE',
    # present-null → 'NONE', else upper(value)
    trial = (
        "CASE WHEN NOT map_contains_key(_cf, 'Trial__c') THEN 'FALSE' "
        f"WHEN {_cfv('Trial__c')} IS NULL THEN 'NONE' ELSE upper({_cfv('Trial__c')}) END"
    )
    owner_name = ("CASE WHEN _owner IS NULL OR _owner = '' THEN '' "
                  f"ELSE {S.clean_text(S.split_part('_owner', ';', 1))} END")
    won = S.encode_bool_flag("OPPORTUNITY_STATE = 'WON'")
    return fanned.selectExpr(
        "CAST(OPPORTUNITY_ID AS STRING) AS `Opportunity ID`",
        f"{_clean_str('OPPORTUNITY_NAME')} AS `Opportunity Name`",
        f"{_clean_str('_ent_name')} AS `Entity Owning Equipment`",
        f"{site_name} AS `Site Name`",
        f"{_clean_str('_chan_name')} AS `Channel Partner`",
        "DATE_CREATED_UTC AS `Date Created`",
        "FORECAST_CLOSE_DATE AS `Date Closed (Forecast)`",
        "ACTUAL_CLOSE_DATE AS `Date Closed (Actual)`",
        "OPPORTUNITY_VALUE AS `Opportunity Value`",
        "BID_CURRENCY AS `Bid Currency`",
        "OPPORTUNITY_STATE AS `Opportunity State`",
        f"{S.coalesce_str('_stg_name')} AS `Current Pipeline Stage`",
        "OPPORTUNITY_VALUE AS `Expected Revenue`",  # Q2
        "LAST_ACTIVITY_DATE_UTC AS `Date of Last Activity`",
        "NEXT_ACTIVITY_DATE_UTC AS `Date of Next Activity`",
        "PROBABILITY AS `Probability`",
        f"{_clean_str('_rsn_name')} AS `State Reason`",
        # P5: WON → 'TRUE'/'FALSE'
        f"{won} AS `Won`",
        f"{trial} AS `Trial?`",
        f"{S.cf_get('_cf', 'Quantity__c')} AS `Opportunity Product Quantity`",
        f"{_clean_str('_pbk_name')} AS `Pricebook Name`",
        f"{_clean_str('_owner')} AS `Opportunity Owner`",
        f"CASE WHEN _pid IS NOT NULL THEN {_clean_str('_prd_family')} ELSE '' END "
        "AS `Product Family`",
        f"{_cf_clean('Product_Type__c')} AS `Archived Field - Product Type `",
        "coalesce(CAST(_pid AS STRING), '') AS `Product ID`",
        f"{_clean_str('_main_name')} AS `Organization Name`",
        f"{owner_name} AS `Owner Name`",
        f"{_cf_clean('Channel_Type__c')} AS `Channel Type`",
        f"{_cf_clean('GAP_Strategy__c')} AS `GAP Strategy`",
        f"{_cf_clean('Current_State__c')} AS `GAP Current State`",
        f"{S.cf_get('_cf', 'Invoice_Number__c')} AS `Invoice Number`",
        f"{S.cf_get('_cf', 'Purchase_Order__c')} AS `Purchase Order`",
    ).dropDuplicates()
