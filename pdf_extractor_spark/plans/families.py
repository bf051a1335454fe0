"""Round-2 parity gate entries: the new reference families (Apple Card
inverted sign, BofA Visa append_year, Amazon invoice fields), the P1
projection-map engine, and the R18 address-block composition — each as a
(Spark impl, DuckDB oracle) render->recover pair over the shared testdata
tables (same pattern as catalog_ext2). The byte-level family parity lives in
the goldens (tests/test_new_families.py + test_golden_extraction.py); these
entries put the rule SEMANTICS under the driver's cross-engine value check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import _cents, _t


def _money(cents) -> F.Column:
    return F.concat(
        (cents / 100).cast("long").cast("string"),
        F.lit("."),
        F.lpad((cents % 100).cast("string"), 2, "0"),
    )


# ---------------------------------------------------------------------------
# Apple Card inverted sign + BofA Visa append_year (one melted suite)
# ---------------------------------------------------------------------------

_BOFA_PAT = r"(\d{2}/\d{2})\s+(\d{2}/\d{2})?\s+(.*?)(\d{4})?\s+(\d{4})?\s+([\d,]+\.\d{2})?$"


def q_family_statement_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apple Card sign inversion (apple_card_csv_parser.py:66-79: 'payment'
    in Type -> credit; is_charge_positive negates unconditionally) + BofA
    Visa row recovery with append_year (bofa_visa_parser.py:27-53, 100-103).
    Melted to (variant, k, s1, s2, v)."""
    ev = _t(spark, sf_dir, "events")
    type_str = F.when(F.col("event_type") == "signup", F.lit("Payment")).otherwise(
        F.initcap("event_type")
    )
    cents = F.floor(F.coalesce(F.abs(F.col("value")), F.lit(0.0)) * 100 + F.lit(0.5)).cast("long")
    is_pay = F.lower(type_str).contains("payment")
    infile = F.when(is_pay, -(cents / 100.0)).otherwise(cents / 100.0)
    apple = ev.select(
        F.lit("apple_card").alias("variant"),
        F.col("event_id").cast("long").alias("k"),
        F.when(is_pay, F.lit("credit")).otherwise(F.lit("debit")).alias("s1"),
        type_str.alias("s2"),
        (-infile).alias("v"),  # unconditional negation (is_charge_positive)
    )

    orders = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    line = F.concat(
        F.date_format(d, "MM/dd"), F.lit(" "),
        F.date_format(F.date_add(d, 3), "MM/dd"), F.lit(" "),
        F.upper("o_orderpriority"), F.lit(" 1234 5678 "),
        _money(_cents(F.col("o_totalprice"))),
    )
    stmt = F.date_add(d, 20)
    stmt_y, stmt_m = F.year(stmt), F.month(stmt)
    mmdd = F.regexp_extract(line, _BOFA_PAT, 1)
    mm = F.substring(mmdd, 1, 2).cast("int")
    dd = F.substring(mmdd, 4, 2).cast("int")
    yr = F.when((stmt_m == 1) & (mm == 12), stmt_y - 1).otherwise(stmt_y)
    bofa = orders.select(
        F.lit("bofa_visa").alias("variant"),
        F.col("o_orderkey").cast("long").alias("k"),
        F.date_format(F.make_date(yr, mm, dd), "yyyy-MM-dd").alias("s1"),
        F.trim(F.regexp_extract(line, _BOFA_PAT, 3)).alias("s2"),
        F.regexp_replace(F.regexp_extract(line, _BOFA_PAT, 6), ",", "")
        .cast("double")
        .alias("v"),
    )

    # wells fargo bank CSV (round 3): render a FILE/PATH provenance header +
    # two positional rows per order, then RECOVER the statement date through
    # the filename-first ladder (wellsfargo_bank_csv_parser.py:82-113) —
    # original_filename -> input_path -> last_row — entirely natively.
    wd = F.col("o_orderdate").cast("date")
    mod3 = F.col("o_orderkey") % 3
    fname = F.when(
        mod3 == 0,
        F.concat(
            F.lit("wellsfargo_bank_"),
            F.date_format(F.date_add(wd, 10), "yyyyMMdd"),
            F.lit(".csv"),
        ),
    ).otherwise(F.lit("wellsfargo_bank_export.csv"))
    wpath = F.when(
        mod3 == 1,
        F.concat(
            F.lit("exports/wf/stmt_"),
            F.date_format(F.date_add(wd, 20), "yyyyMMdd"),
            F.lit(".csv"),
        ),
    ).otherwise(F.lit("exports/wf/latest.csv"))
    wamt = _money(_cents(F.col("o_totalprice")))
    wtxt = F.concat_ws(
        "\n",
        F.concat(F.lit("FILE: "), fname),
        F.concat(F.lit("PATH: "), wpath),
        F.concat(F.date_format(wd, "MM/dd/yyyy"), F.lit(","), wamt, F.lit(",*,,A")),
        F.concat(
            F.date_format(F.date_add(wd, 5), "MM/dd/yyyy"),
            F.lit(","),
            wamt,
            F.lit(",*,1234,B"),
        ),
    )
    f8 = F.regexp_extract(wtxt, r"FILE: [^\n]*?(\d{8})", 1)
    p8 = F.regexp_extract(wtxt, r"PATH: [^\n]*?(\d{8})", 1)

    def _iso8(col):  # yyyymmdd -> yyyy-MM-dd
        return F.concat(
            F.substring(col, 1, 4), F.lit("-"),
            F.substring(col, 5, 2), F.lit("-"),
            F.substring(col, 7, 2),
        )

    row_dates = F.regexp_extract_all(wtxt, F.lit(r"(\d{2}/\d{2}/\d{4}),"), 1)
    last_mdy = F.element_at(row_dates, -1)
    last_iso = F.concat(
        F.substring(last_mdy, 7, 4), F.lit("-"),
        F.substring(last_mdy, 1, 2), F.lit("-"),
        F.substring(last_mdy, 4, 2),
    )
    stmt_date = (
        F.when(f8 != "", _iso8(f8)).when(p8 != "", _iso8(p8)).otherwise(last_iso)
    )
    src = (
        F.when(f8 != "", F.lit("original_filename"))
        .when(p8 != "", F.lit("input_path"))
        .otherwise(F.lit("last_row"))
    )
    wfb = orders.select(
        F.lit("wf_bank_csv").alias("variant"),
        F.col("o_orderkey").cast("long").alias("k"),
        stmt_date.alias("s1"),
        src.alias("s2"),
        # _money renders cents with no grouping separators, so the [^,]*
        # capture IS the full amount cell — no de-comma step needed
        F.regexp_extract(wtxt, r"\n\d{2}/\d{2}/\d{4},([^,]*),", 1)
        .cast("double")
        .alias("v"),
    )
    return apple.unionByName(bofa).unionByName(wfb)


_FAMILY_SUITE_ORACLE = rf"""
    WITH apple AS (
      SELECT 'apple_card' AS variant, CAST(event_id AS BIGINT) AS k,
             CASE WHEN contains(lower(ts2), 'payment') THEN 'credit' ELSE 'debit' END AS s1,
             ts2 AS s2,
             -(CASE WHEN contains(lower(ts2), 'payment') THEN -(cents / 100.0)
                    ELSE cents / 100.0 END) AS v
      FROM (
        SELECT event_id,
               CASE WHEN event_type = 'signup' THEN 'Payment'
                    ELSE upper(event_type[1]) || event_type[2:] END AS ts2,
               CAST(FLOOR(COALESCE(abs(value), 0.0) * 100 + 0.5) AS BIGINT) AS cents
        FROM events)),
    b0 AS (
      SELECT o_orderkey,
             strftime(o_orderdate, '%m/%d') || ' '
               || strftime(CAST(o_orderdate AS DATE) + 3, '%m/%d') || ' '
               || upper(o_orderpriority) || ' 1234 5678 '
               || (CAST(cents // 100 AS VARCHAR) || '.'
                   || lpad(CAST(cents % 100 AS VARCHAR), 2, '0')) AS line,
             year(CAST(o_orderdate AS DATE) + 20) AS sy,
             month(CAST(o_orderdate AS DATE) + 20) AS sm
      FROM (SELECT o_orderkey, o_orderdate, o_orderpriority,
                   CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            FROM orders)),
    b1 AS (
      SELECT o_orderkey, sy, sm,
             regexp_extract(line, '{_BOFA_PAT}', 1) AS mmdd,
             trim(regexp_extract(line, '{_BOFA_PAT}', 3)) AS descr,
             replace(regexp_extract(line, '{_BOFA_PAT}', 6), ',', '') AS amt
      FROM b0),
    bofa AS (
      SELECT 'bofa_visa' AS variant, CAST(o_orderkey AS BIGINT) AS k,
             strftime(make_date(
               CASE WHEN sm = 1 AND CAST(mmdd[1:2] AS INT) = 12 THEN sy - 1 ELSE sy END,
               CAST(mmdd[1:2] AS INT), CAST(mmdd[4:5] AS INT)), '%Y-%m-%d') AS s1,
             descr AS s2,
             CAST(amt AS DOUBLE) AS v
      FROM b1),
    w0 AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d, o_orderkey % 3 AS m3,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders),
    w1 AS (
      SELECT o_orderkey,
             (CAST(cents // 100 AS VARCHAR) || '.'
               || lpad(CAST(cents % 100 AS VARCHAR), 2, '0')) AS amt,
             CASE WHEN m3 = 0 THEN strftime(d + 10, '%Y%m%d') ELSE '' END AS f8,
             CASE WHEN m3 = 1 THEN strftime(d + 20, '%Y%m%d') ELSE '' END AS p8,
             strftime(d + 5, '%Y-%m-%d') AS last_iso
      FROM w0),
    wfb AS (
      SELECT 'wf_bank_csv' AS variant, CAST(o_orderkey AS BIGINT) AS k,
             CASE WHEN f8 <> '' THEN substr(f8,1,4)||'-'||substr(f8,5,2)||'-'||substr(f8,7,2)
                  WHEN p8 <> '' THEN substr(p8,1,4)||'-'||substr(p8,5,2)||'-'||substr(p8,7,2)
                  ELSE last_iso END AS s1,
             CASE WHEN f8 <> '' THEN 'original_filename'
                  WHEN p8 <> '' THEN 'input_path'
                  ELSE 'last_row' END AS s2,
             CAST(amt AS DOUBLE) AS v
      FROM w1)
    SELECT variant, k, s1, s2, v FROM apple
    UNION ALL
    SELECT variant, k, s1, s2, v FROM bofa
    UNION ALL
    SELECT variant, k, s1, s2, v FROM wfb
"""


# ---------------------------------------------------------------------------
# Amazon invoice variant fields (R16 completion)
# ---------------------------------------------------------------------------

def q_amazon_invoice_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invoice field recovery (amazon_invoice_pdf_parser.py:53-156): render a
    single-item invoice per order, recover order number / paid-by / placed-by
    / total / placed date / qty / price via the reference regexes, and the
    normalized item amount -(price*qty) as a debit."""
    orders = _t(spark, sf_dir, "orders")
    total = _money(_cents(F.col("o_totalprice")))
    price = _money(_cents(F.col("o_totalprice") / 7))
    qty = (F.col("o_orderkey") % 3 + 1).cast("long")
    txt = F.concat(
        F.lit("Final Details for Order\nOrder Placed: "),
        F.date_format("o_orderdate", "MMMM dd, yyyy"),
        F.lit("\nAmazon.com order number: 112-"),
        F.col("o_orderkey").cast("string"),
        F.lit("-55\nOrder Total: $"), total,
        F.lit("\nPaid By: CUSTOMER "), F.col("o_custkey").cast("string"),
        F.lit("\nPlaced By: AGENT "), F.col("o_custkey").cast("string"),
        F.lit("\n"), qty.cast("string"),
        F.lit(" of: ITEM "), F.upper("o_orderpriority"),
        F.lit("\nSold by: WidgetCo\nCondition: New\n$"), price,
    )
    q = F.regexp_extract(txt, r"(\d+) of:", 1).cast("long")
    p = F.regexp_extract(txt, r"Condition: New\n\$([\d.]+)", 1).cast("double")
    amount = -(F.floor(p * q * 100 + F.lit(0.5)) / 100.0)
    return orders.select(
        "o_orderkey",
        F.regexp_extract(txt, r"Amazon.com order number: ([\d-]+)", 1).alias("order_number"),
        F.regexp_extract(txt, r"Paid By: (.+)", 1).alias("paid_by"),
        F.regexp_extract(txt, r"Placed By: (.+)", 1).alias("placed_by"),
        F.regexp_extract(txt, r"Order Total: \$([\d.,]+)", 1).cast("double").alias("order_total"),
        F.date_format(
            F.try_to_timestamp(
                F.regexp_extract(txt, r"Order Placed: ([A-Za-z]+ \d{2}, \d{4})", 1),
                F.lit("MMMM dd, yyyy"),
            ),
            "yyyy-MM-dd",
        ).alias("order_placed"),
        q.alias("qty"),
        p.alias("price"),
        amount.alias("amount"),
    )


_AMAZON_INVOICE_ORACLE = r"""
    WITH r AS (
      SELECT o_orderkey,
             'Final Details for Order' || chr(10) || 'Order Placed: '
               || strftime(o_orderdate, '%B %d, %Y')
               || chr(10) || 'Amazon.com order number: 112-'
               || CAST(o_orderkey AS VARCHAR) || '-55'
               || chr(10) || 'Order Total: $'
               || (CAST(tc // 100 AS VARCHAR) || '.' || lpad(CAST(tc % 100 AS VARCHAR), 2, '0'))
               || chr(10) || 'Paid By: CUSTOMER ' || CAST(o_custkey AS VARCHAR)
               || chr(10) || 'Placed By: AGENT ' || CAST(o_custkey AS VARCHAR)
               || chr(10) || CAST(o_orderkey % 3 + 1 AS VARCHAR)
               || ' of: ITEM ' || upper(o_orderpriority)
               || chr(10) || 'Sold by: WidgetCo' || chr(10) || 'Condition: New'
               || chr(10) || '$'
               || (CAST(pc // 100 AS VARCHAR) || '.' || lpad(CAST(pc % 100 AS VARCHAR), 2, '0'))
               AS txt
      FROM (SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority,
                   CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS tc,
                   CAST(FLOOR(o_totalprice / 7 * 100 + 0.5) AS BIGINT) AS pc
            FROM orders)),
    x AS (
      SELECT o_orderkey,
             regexp_extract(txt, 'Amazon.com order number: ([\d-]+)', 1) AS order_number,
             regexp_extract(txt, 'Paid By: (.+)', 1) AS paid_by,
             regexp_extract(txt, 'Placed By: (.+)', 1) AS placed_by,
             CAST(regexp_extract(txt, 'Order Total: \$([\d.,]+)', 1) AS DOUBLE) AS order_total,
             strftime(try_strptime(
               regexp_extract(txt, 'Order Placed: ([A-Za-z]+ \d{2}, \d{4})', 1),
               '%B %d, %Y'), '%Y-%m-%d') AS order_placed,
             CAST(regexp_extract(txt, '(\d+) of:', 1) AS BIGINT) AS qty,
             CAST(regexp_extract(txt, 'Condition: New' || chr(10) || '\$([\d.]+)', 1)
                  AS DOUBLE) AS price
      FROM r)
    SELECT o_orderkey, order_number, paid_by, placed_by, order_total,
           order_placed, qty, price,
           -(FLOOR(price * qty * 100 + 0.5) / 100.0) AS amount
    FROM x
"""


# ---------------------------------------------------------------------------
# P1 projection maps as data
# ---------------------------------------------------------------------------

def q_p1_projection_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-point-B composition (SURVEY §3.2, transaction_normalizer.py:
    115-379): two families driven off the PROJECTION_MAPS table by the one
    generic engine (plans/projection.py) — first_republic_bank (with the
    declarative INTEREST CREDIT conditional, config.py:368-373) and
    capitalone_csv (renames + literals) — then A1 union on the core schema,
    P5 validity/quarantine flags, and the R21 sequential id over the explicit
    (variant, account_number) total order: the whole normalize lifecycle as
    one verified query."""
    from .projection import apply_projection_map

    orders = _t(spark, sf_dir, "orders")
    amount = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)) / 100.0
    is_ic = F.col("o_orderkey") % 5 == 0
    fr_frame = orders.select(
        F.when(is_ic, F.lit("INTEREST CREDIT"))
        .otherwise(F.concat(F.lit("PAYMENT "), F.col("o_orderpriority")))
        .alias("description"),
        F.when(is_ic, F.lit(None).cast("string"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
        .alias("transaction_date"),
        amount.alias("amount"),
        F.lit("credit").alias("transaction_type"),
        F.date_format(F.trunc("o_orderdate", "month"), "yyyy-MM-dd").alias(
            "statement_start_date"
        ),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias(
            "statement_end_date"
        ),
        F.col("o_orderkey").cast("string").alias("account_number"),
        F.concat(F.lit("fr_"), F.col("o_orderkey").cast("string")).alias("file_path"),
    )
    fr = apply_projection_map(fr_frame, "first_republic_bank").select(
        F.lit("first_republic_bank").alias("variant"),
        "transaction_date", "description", "amount", "transaction_type",
        "account_number", "file_path",
    )

    cap_frame = orders.select(
        # every 11th row loses its date -> exercises the quarantine branch
        F.when(F.col("o_orderkey") % 11 == 0, F.lit(None).cast("string"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
        .alias("transaction_date"),
        F.col("o_orderpriority").alias("description"),
        amount.alias("amount"),
        F.concat(F.lit("cap_"), F.col("o_orderkey").cast("string")).alias("source_file"),
        F.lit("debit").alias("transaction_type"),
        F.col("o_orderkey").cast("string").alias("card_no"),
    )
    cap = apply_projection_map(cap_frame, "capitalone_csv").select(
        F.lit("capitalone_csv").alias("variant"),
        "transaction_date", "description", "amount", "transaction_type",
        "account_number", "file_path",
    )
    unioned = fr.unionByName(cap)
    # P5 validity (transaction_normalizer.py:41-65) over the mapped frame
    valid = (
        F.col("transaction_date").isNotNull()
        & (F.length(F.coalesce("description", F.lit(""))) > 0)
        & F.col("amount").isNotNull()
    )
    w = Window.orderBy("variant", F.col("account_number").cast("long"))
    return unioned.select(
        "*",
        valid.alias("valid"),
        F.when(F.col("transaction_date").isNull(), F.lit("missing_or_unparseable_date"))
        .otherwise(F.lit(None).cast("string"))
        .alias("problem_reason"),
        F.row_number().over(w).cast("long").alias("seq_id"),
    )


_P1_ORACLE = """
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             strftime(o_orderdate, '%Y-%m-%d') AS od,
             FLOOR(o_totalprice * 100 + 0.5) / 100.0 AS amount,
             strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS stmt_end
      FROM orders),
    fr AS (
      SELECT 'first_republic_bank' AS variant,
             CASE WHEN o_orderkey % 5 = 0 THEN stmt_end ELSE od END AS transaction_date,
             CASE WHEN o_orderkey % 5 = 0 THEN 'INTEREST CREDIT'
                  ELSE 'PAYMENT ' || o_orderpriority END AS description,
             amount, 'credit' AS transaction_type,
             CAST(o_orderkey AS VARCHAR) AS account_number,
             'fr_' || CAST(o_orderkey AS VARCHAR) AS file_path
      FROM base),
    cap AS (
      SELECT 'capitalone_csv' AS variant,
             CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE od END AS transaction_date,
             o_orderpriority AS description, amount,
             'debit' AS transaction_type,
             CAST(o_orderkey AS VARCHAR) AS account_number,
             'cap_' || CAST(o_orderkey AS VARCHAR) AS file_path
      FROM base),
    u AS (SELECT * FROM fr UNION ALL SELECT * FROM cap)
    SELECT *,
           (transaction_date IS NOT NULL
            AND length(COALESCE(description, '')) > 0
            AND amount IS NOT NULL) AS valid,
           CASE WHEN transaction_date IS NULL
                THEN 'missing_or_unparseable_date' END AS problem_reason,
           CAST(row_number() OVER (
             ORDER BY variant, CAST(account_number AS BIGINT)) AS BIGINT) AS seq_id
    FROM u
"""


# ---------------------------------------------------------------------------
# R18 address-block composition
# ---------------------------------------------------------------------------

def q_r18_address_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R18 composed (chase_checking.py:320-364): per-customer rendered lines,
    street line paired with its lead() city/zip line, ALL-CAPS runs scanned
    from the preceding lines (window + self-join — the W4 lookahead + slice
    composition SURVEY maps it to). Customers with custkey%7==0 get no zip
    line (negative path)."""
    cust = _t(spark, sf_dir, "customer")
    zipline = F.when(F.col("c_custkey") % 7 == 0, F.lit("no zip here")).otherwise(
        F.concat(
            F.lit("SAN FRANCISCO CA "),
            F.lpad((F.col("c_custkey") % 89999 + 10000).cast("string"), 5, "0"),
        )
    )
    lines = F.array(
        F.concat(F.lit("ACME "), F.col("c_mktsegment")),
        F.lit("Service note"),
        F.concat(F.col("c_custkey").cast("string"), F.lit(" MARKET ST")),
        zipline,
        F.lit("thank you"),
    )
    e = cust.select("c_custkey", F.posexplode(lines).alias("line_no", "line"))
    w = Window.partitionBy("c_custkey").orderBy("line_no")
    flagged = e.select(
        "c_custkey", "line_no", "line", F.lead("line", 1).over(w).alias("nxt")
    )
    street = (
        flagged.where(
            F.col("line").rlike(r"^\d+ .+")
            & F.coalesce(F.col("nxt"), F.lit("")).rlike(r"\d{5}(-\d{4})?")
        )
        .groupBy("c_custkey")
        .agg(
            F.min("line_no").alias("street_no"),
            F.min_by(F.concat_ws(" ", "line", "nxt"), "line_no").alias("address"),
        )
    )
    run = F.regexp_extract(F.col("line"), r"[A-Z][A-Z .,'-]{2,}", 0)
    caps = flagged.join(street, "c_custkey").where(
        (F.col("line_no") >= F.col("street_no") - 10)
        & (F.col("line_no") < F.col("street_no"))
        & (F.trim(run) != "")
        & (F.size(F.split(F.trim(run), " ")) >= 2)
    )
    names = caps.groupBy("c_custkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", F.trim(run).alias("r")))),
                lambda x: x["r"],
            ),
            " ",
        ).alias("name_runs")
    )
    return (
        cust.select("c_custkey")
        .join(street, "c_custkey", "left")
        .join(names, "c_custkey", "left")
        .select(
            "c_custkey",
            F.coalesce("address", F.lit("<none>")).alias("address"),
            F.coalesce("name_runs", F.lit("<none>")).alias("name_runs"),
        )
    )


_R18_BLOCK_ORACLE = r"""
    WITH lines AS (
      SELECT c_custkey, CAST(u.s.i - 1 AS BIGINT) AS line_no, u.s.t AS line
      FROM (
        SELECT c_custkey,
               unnest(list_transform([
                 'ACME ' || c_mktsegment,
                 'Service note',
                 CAST(c_custkey AS VARCHAR) || ' MARKET ST',
                 CASE WHEN c_custkey % 7 = 0 THEN 'no zip here'
                      ELSE 'SAN FRANCISCO CA '
                           || lpad(CAST(c_custkey % 89999 + 10000 AS VARCHAR), 5, '0') END,
                 'thank you'
               ], (t, i) -> {'t': t, 'i': i})) AS s
        FROM customer) u),
    flagged AS (
      SELECT c_custkey, line_no, line,
             lead(line, 1) OVER (PARTITION BY c_custkey ORDER BY line_no) AS nxt
      FROM lines),
    street AS (
      SELECT c_custkey, MIN(line_no) AS street_no,
             min_by(line || ' ' || nxt, line_no) AS address
      FROM flagged
      WHERE regexp_matches(line, '^\d+ .+')
        AND regexp_matches(COALESCE(nxt, ''), '\d{5}(-\d{4})?')
      GROUP BY c_custkey),
    caps AS (
      SELECT f.c_custkey,
             string_agg(trim(regexp_extract(f.line, '[A-Z][A-Z .,''-]{2,}', 0)), ' '
                        ORDER BY f.line_no) AS name_runs
      FROM flagged f JOIN street s ON f.c_custkey = s.c_custkey
      WHERE f.line_no >= s.street_no - 10 AND f.line_no < s.street_no
        AND trim(regexp_extract(f.line, '[A-Z][A-Z .,''-]{2,}', 0)) <> ''
        AND len(string_split(trim(regexp_extract(f.line, '[A-Z][A-Z .,''-]{2,}', 0)), ' ')) >= 2
      GROUP BY f.c_custkey)
    SELECT c.c_custkey,
           COALESCE(s.address, '<none>') AS address,
           COALESCE(p.name_runs, '<none>') AS name_runs
    FROM customer c
    LEFT JOIN street s ON c.c_custkey = s.c_custkey
    LEFT JOIN caps p ON c.c_custkey = p.c_custkey
"""


# ---------------------------------------------------------------------------
# organizer manifest ladder (entry-point D, SURVEY §3.4)
# ---------------------------------------------------------------------------

def q_organizer_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-point-D deterministic skeleton (organizer_extractor.py:540-658 +
    clean_manifest.py): per-page manifest rows matched against the TOC by the
    exact-key join FIRST (lower/trim, :719-743), then the token-sort fuzzy
    top-1 at threshold 0.8 (:603-658) for the unmatched remainder —
    matching_method enum 'exact'|'fuzzy'|'none'; has_prefilled from the P8
    term predicate; priority is the reference's non-LLM default 'medium'
    (the LLM leaf is out of deterministic scope)."""
    from ..functions.text import levenshtein_ratio, token_sort_key

    part = _t(spark, sf_dir, "part")
    toc = F.broadcast(
        part.where(F.col("p_partkey") < 40).select(
            F.col("p_partkey").alias("toc_id"), F.col("p_name").alias("title")
        )
    )
    base = part.where((F.col("p_partkey") >= 40) & (F.col("p_partkey") < 400))
    # label: 1/3 exact TOC copy, 1/3 token-shuffled TOC title (exact fails,
    # token-sort fuzzy hits 1.0), 1/3 the page's own unrelated name
    shuffled = F.concat(
        F.element_at(F.split(F.col("t_title"), " "), -1),
        F.lit(" "),
        F.array_join(F.slice(F.split(F.col("t_title"), " "), 1, 2), " "),
    )
    pages = (
        base.join(
            toc.select(F.col("toc_id").alias("src_id"), F.col("title").alias("t_title")),
            F.pmod(F.col("p_partkey"), F.lit(40)) == F.col("src_id"),
            "left",
        )
        .select(
            F.col("p_partkey").alias("page_id"),
            F.when(F.col("p_partkey") % 3 == 0, F.col("t_title"))
            .when(F.col("p_partkey") % 3 == 1, shuffled)
            .otherwise(F.col("p_name"))
            .alias("label"),
        )
    )
    exact = pages.join(
        toc, F.lower(F.trim(F.col("label"))) == F.lower(F.trim(F.col("title"))), "left"
    ).groupBy("page_id", "label").agg(F.min("title").alias("exact_title"))
    matched = exact.where(F.col("exact_title").isNotNull()).select(
        "page_id", "label",
        F.col("exact_title").alias("matched_title"),
        F.lit("exact").alias("match_method"),
        F.lit(1.0).alias("match_ratio"),
    )
    rest = exact.where(F.col("exact_title").isNull()).select("page_id", "label")
    scored = rest.crossJoin(toc).select(
        "page_id", "label", "title",
        levenshtein_ratio(
            token_sort_key(F.col("label")), token_sort_key(F.col("title"))
        ).alias("ratio"),
    )
    w = Window.partitionBy("page_id").orderBy(F.col("ratio").desc(), F.col("title"))
    top1 = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    fuzzy = top1.select(
        "page_id", "label",
        F.when(F.col("ratio") >= 0.8, F.col("title")).otherwise(F.lit("<none>")).alias("matched_title"),
        F.when(F.col("ratio") >= 0.8, F.lit("fuzzy")).otherwise(F.lit("none")).alias("match_method"),
        F.when(F.col("ratio") >= 0.8, F.col("ratio")).otherwise(F.lit(-1.0)).alias("match_ratio"),
    )
    manifest = matched.unionByName(fuzzy)
    prefilled = F.pmod(F.col("page_id"), F.lit(3)) == 0
    return manifest.select(
        "page_id", "label", "matched_title", "match_method", "match_ratio",
        prefilled.alias("has_prefilled"),
        F.lit("medium").alias("priority"),
    )


_TOKSORT = "array_to_string(list_sort(string_split(lower({x}), ' ')), ' ')"

_ORGANIZER_ORACLE = f"""
    WITH toc AS (
      SELECT p_partkey AS toc_id, p_name AS title FROM part WHERE p_partkey < 40),
    base AS (
      SELECT p_partkey, p_name FROM part WHERE p_partkey >= 40 AND p_partkey < 400),
    pages AS (
      SELECT b.p_partkey AS page_id,
             CASE WHEN b.p_partkey % 3 = 0 THEN t.title
                  WHEN b.p_partkey % 3 = 1 THEN
                    string_split(t.title, ' ')[-1] || ' '
                      || array_to_string(string_split(t.title, ' ')[1:2], ' ')
                  ELSE b.p_name END AS label
      FROM base b LEFT JOIN toc t ON b.p_partkey % 40 = t.toc_id),
    exact AS (
      SELECT p.page_id, p.label, MIN(t.title) AS exact_title
      FROM pages p LEFT JOIN toc t
        ON lower(trim(p.label)) = lower(trim(t.title))
      GROUP BY p.page_id, p.label),
    matched AS (
      SELECT page_id, label, exact_title AS matched_title,
             'exact' AS match_method, 1.0 AS match_ratio
      FROM exact WHERE exact_title IS NOT NULL),
    rest AS (SELECT page_id, label FROM exact WHERE exact_title IS NULL),
    scored AS (
      SELECT r.page_id, r.label, t.title,
             FLOOR((1.0 - levenshtein({_TOKSORT.format(x='r.label')},
                                      {_TOKSORT.format(x='t.title')})::DOUBLE
                    / greatest(length({_TOKSORT.format(x='r.label')})
                               + length({_TOKSORT.format(x='t.title')}), 1))
                   * 10000 + 0.5) / 10000.0 AS ratio
      FROM rest r CROSS JOIN toc t),
    top1 AS (
      SELECT page_id, label, title, ratio
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY page_id
                                 ORDER BY ratio DESC, title) = 1),
    fuzzy AS (
      SELECT page_id, label,
             CASE WHEN ratio >= 0.8 THEN title ELSE '<none>' END AS matched_title,
             CASE WHEN ratio >= 0.8 THEN 'fuzzy' ELSE 'none' END AS match_method,
             CASE WHEN ratio >= 0.8 THEN ratio ELSE -1.0 END AS match_ratio
      FROM top1),
    manifest AS (SELECT * FROM matched UNION ALL SELECT * FROM fuzzy)
    SELECT page_id, label, matched_title, match_method, match_ratio,
           (page_id % 3 = 0) AS has_prefilled,
           'medium' AS priority
    FROM manifest
"""

