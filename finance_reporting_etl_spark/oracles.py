"""DuckDB oracle SQL for the catalog (the verification half).

Every catalog query in ``queries.py`` is paired with an ANSI/DuckDB SQL
twin the driver runs side-by-side at sf0.01 (row-count + schema +
value-hash compare). The SQL lives here, keyed by query name in
``ORACLES``, so the catalog file reads as Spark bindings and this file
reads as the independent re-derivation. A handful of oracles are built
by functions instead (unrolled PageRank/BFS iterations in
operators/graph.py, the ML re-training twins in operators/ml.py, the
canned-fixture VALUES oracles in queries.py) — those never enter this
dict.

Shared snippet helpers (_TOKS, _b256, _md5_key, the CASE mappings) are
the DuckDB-dialect twins of Spark-side expressions; keeping them beside
the SQL that interpolates them keeps both engines' expression trees in
lockstep. ``_AUX_DIR`` is the oracle-shared persisted-intermediate root
(see queries.py _persist_aux): hash-sensitive randomized artifacts
(minhash signatures, LSH planes, k-means centroids, the co-purchase
pair table) are written once by the Spark side and read by BOTH engines
so every downstream decision is re-derived from bit-identical inputs.
"""

# SPARK_GRAFT_RUN_ID isolates concurrent runs (e.g. gate and bench in
# parallel): both the writer and the f-string oracle SQL bake the same
# per-process value at import, so Spark and DuckDB always read one
# run's aux tables. Unset (the default), the path is stable across
# processes.
from finance_reporting_etl_spark.runs import aux_dir as _aux_dir  # noqa: E402

_AUX_DIR = _aux_dir()

from finance_reporting_etl_spark.functions.scalars import (  # noqa: E402
    det_round_sql as _dr_top,
)

# The BPE-ish token regex is shared verbatim with the Spark side
# (functions/text.py TOKEN_PATTERN) — interpolated into every oracle
# that counts BPE tokens so the two engines' tokenizers can never
# silently drift (ADVICE r11).
from finance_reporting_etl_spark.functions.text import (  # noqa: E402
    TOKEN_PATTERN as _BPE_RE,
)

_SERIES_CASE = """
           CASE WHEN event_type = 'click'    THEN 'GDP'
                WHEN event_type = 'error'    THEN 'UNRATE'
                WHEN event_type = 'purchase' THEN 'CPIAUCSL'
                WHEN event_type = 'signup'   THEN 'FEDFUNDS'
                WHEN event_type = 'view'     THEN 'DGS10'
           END"""

_INDICATOR_CASE = """
           CASE WHEN series_id = 'GDP'      THEN 'Gross Domestic Product'
                WHEN series_id = 'UNRATE'   THEN 'Unemployment Rate'
                WHEN series_id = 'CPIAUCSL' THEN 'Consumer Price Index'
                WHEN series_id = 'FEDFUNDS' THEN 'Federal Funds Rate'
                WHEN series_id = 'DGS10'    THEN '10-Year Treasury Rate'
           END"""

# list_filter: empty text must tokenize to [], matching the Spark
# side's filtered split (r5 review)
_TOKS = ("list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
         "t -> t <> '')")

def _b256(salt: str) -> str:
    """DuckDB twin of operators.corpus.md5_bucket(id, salt=salt): bucket in
    [0, 256) from the first two hex chars of md5(doc_id || salt). Distinct
    salts per operation keep split/sample/decontaminate independent."""
    h = f"md5(CAST(doc_id AS VARCHAR) || '{salt}')"
    return (
        f"CAST((instr('0123456789abcdef', substr({h}, 1, 1)) - 1) * 16"
        f" + (instr('0123456789abcdef', substr({h}, 2, 1)) - 1) AS DOUBLE)"
    )

def _md5_key(salt: str) -> str:
    return f"md5(CAST(doc_id AS VARCHAR) || '{salt}')"

# Raw quality composition: inner ratios are single exact-integer IEEE
# divisions (bit-identical across engines UNROUNDED); det_round applies
# exactly once at the end — nesting it per term multiplied the regexp
# evaluations ~3x at bench scale (r9). Twin: functions/text.quality_score.
_RAW_QUALITY = (
    "greatest(0.0, least(length(text) / 500.0, 1.0) * (1.0 - least("
    "length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))"
    " / nullif(length(text), 0)"
    " + length(regexp_replace(text, '[^0-9]', '', 'g'))"
    " / nullif(length(text), 0), 1.0)))"
)
_QUALITY_SQL = _dr_top(_RAW_QUALITY, 4)

_TRIANGLE_CTES = f"""
    e AS (
        SELECT src AS x, dst AS y
        FROM '{_AUX_DIR}/copurchase_pairs/*.parquet' WHERE src < dst
    ),
    deg AS (
        SELECT id, count(*) AS deg FROM (
            SELECT x AS id FROM e UNION ALL SELECT y FROM e
        ) GROUP BY 1
    ),
    oriented AS (
        SELECT CASE WHEN dx.deg < dy.deg OR (dx.deg = dy.deg AND e.x < e.y)
                    THEN e.x ELSE e.y END AS src,
               CASE WHEN dx.deg < dy.deg OR (dx.deg = dy.deg AND e.x < e.y)
                    THEN e.y ELSE e.x END AS dst
        FROM e JOIN deg dx ON dx.id = e.x JOIN deg dy ON dy.id = e.y
    ),
    wedges AS (
        SELECT w1.src AS u, w1.dst AS v, w2.dst AS w
        FROM oriented w1 JOIN oriented w2 ON w1.src = w2.src AND w1.dst < w2.dst
    ),
    closing AS (
        SELECT least(src, dst) AS v, greatest(src, dst) AS w FROM oriented
    ),
    tri AS (SELECT u, v, w FROM wedges JOIN closing USING (v, w)),
    tri_counts AS (
        SELECT id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
            SELECT u AS id FROM tri
            UNION ALL SELECT v FROM tri
            UNION ALL SELECT w FROM tri
        ) GROUP BY 1
    )
"""


ORACLES: dict = {}

ORACLES["mart_financial_summary"] = """
    SELECT CAST(date_trunc('year', CAST(ts AS DATE)) AS TIMESTAMP) AS year,
           (CASE WHEN isnan(CAST((avg(value)) AS DOUBLE)) OR abs(CAST((avg(value)) AS DOUBLE)) >= 4611686018427.388 THEN (avg(value)) ELSE floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 END) AS avg_gdp
    FROM events
    GROUP BY 1
    """

ORACLES["mart_financial_kpis"] = """
    WITH inc AS (
        SELECT user_id AS symbol,
               date_trunc('month', ts) AS fiscal_date,
               'USD'                       AS currency,
               (CASE WHEN isnan(CAST((sum(value)) AS DOUBLE)) OR abs(CAST((sum(value)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value)) ELSE floor((sum(value)) * 1000000.0 + 0.5) / 1000000.0 END)        AS total_revenue,
               (CASE WHEN isnan(CAST((sum(value * 0.5)) AS DOUBLE)) OR abs(CAST((sum(value * 0.5)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value * 0.5)) ELSE floor((sum(value * 0.5)) * 1000000.0 + 0.5) / 1000000.0 END)  AS gross_profit,
               (CASE WHEN isnan(CAST((sum(value * 0.3)) AS DOUBLE)) OR abs(CAST((sum(value * 0.3)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value * 0.3)) ELSE floor((sum(value * 0.3)) * 1000000.0 + 0.5) / 1000000.0 END)  AS operating_income,
               (CASE WHEN isnan(CAST((sum(value * 0.2)) AS DOUBLE)) OR abs(CAST((sum(value * 0.2)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value * 0.2)) ELSE floor((sum(value * 0.2)) * 1000000.0 + 0.5) / 1000000.0 END)  AS net_income
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ), bal AS (
        SELECT user_id AS symbol,
               date_trunc('month', ts) AS fiscal_date,
               (CASE WHEN isnan(CAST((sum(value)) AS DOUBLE)) OR abs(CAST((sum(value)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value)) ELSE floor((sum(value)) * 1000000.0 + 0.5) / 1000000.0 END)        AS total_assets,
               (CASE WHEN isnan(CAST((sum(value * 0.6)) AS DOUBLE)) OR abs(CAST((sum(value * 0.6)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value * 0.6)) ELSE floor((sum(value * 0.6)) * 1000000.0 + 0.5) / 1000000.0 END)  AS total_liabilities,
               (CASE WHEN isnan(CAST((sum(value * 0.4)) AS DOUBLE)) OR abs(CAST((sum(value * 0.4)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value * 0.4)) ELSE floor((sum(value * 0.4)) * 1000000.0 + 0.5) / 1000000.0 END)  AS total_equity
        FROM events
        WHERE event_type = 'click'
        GROUP BY 1, 2
    ), cf AS (
        SELECT user_id AS symbol,
               date_trunc('month', ts) AS fiscal_date,
               (CASE WHEN isnan(CAST((sum(value * 0.9)) AS DOUBLE)) OR abs(CAST((sum(value * 0.9)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value * 0.9)) ELSE floor((sum(value * 0.9)) * 1000000.0 + 0.5) / 1000000.0 END)  AS operating_cash_flow,
               (CASE WHEN isnan(CAST((sum(value * 0.35)) AS DOUBLE)) OR abs(CAST((sum(value * 0.35)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value * 0.35)) ELSE floor((sum(value * 0.35)) * 1000000.0 + 0.5) / 1000000.0 END) AS capital_expenditure
        FROM events
        WHERE event_type = 'view'
        GROUP BY 1, 2
    )
    SELECT symbol, fiscal_date, currency,
           total_revenue, gross_profit, operating_income, net_income,
           total_assets, total_liabilities, total_equity,
           operating_cash_flow, capital_expenditure,
           operating_cash_flow - capital_expenditure AS free_cash_flow,
           (CASE WHEN isnan(CAST((gross_profit / nullif(total_revenue, 0)) AS DOUBLE)) OR abs(CAST((gross_profit / nullif(total_revenue, 0)) AS DOUBLE)) >= 461168601842738.8 THEN (gross_profit / nullif(total_revenue, 0)) ELSE floor((gross_profit / nullif(total_revenue, 0)) * 10000.0 + 0.5) / 10000.0 END)     AS gross_profit_margin,
           (CASE WHEN isnan(CAST((operating_income / nullif(total_revenue, 0)) AS DOUBLE)) OR abs(CAST((operating_income / nullif(total_revenue, 0)) AS DOUBLE)) >= 461168601842738.8 THEN (operating_income / nullif(total_revenue, 0)) ELSE floor((operating_income / nullif(total_revenue, 0)) * 10000.0 + 0.5) / 10000.0 END) AS operating_profit_margin,
           (CASE WHEN isnan(CAST((net_income / nullif(total_revenue, 0)) AS DOUBLE)) OR abs(CAST((net_income / nullif(total_revenue, 0)) AS DOUBLE)) >= 461168601842738.8 THEN (net_income / nullif(total_revenue, 0)) ELSE floor((net_income / nullif(total_revenue, 0)) * 10000.0 + 0.5) / 10000.0 END)       AS net_profit_margin,
           (CASE WHEN isnan(CAST((net_income / nullif(total_assets, 0)) AS DOUBLE)) OR abs(CAST((net_income / nullif(total_assets, 0)) AS DOUBLE)) >= 461168601842738.8 THEN (net_income / nullif(total_assets, 0)) ELSE floor((net_income / nullif(total_assets, 0)) * 10000.0 + 0.5) / 10000.0 END)        AS return_on_assets,
           (CASE WHEN isnan(CAST((net_income / nullif(total_equity, 0)) AS DOUBLE)) OR abs(CAST((net_income / nullif(total_equity, 0)) AS DOUBLE)) >= 461168601842738.8 THEN (net_income / nullif(total_equity, 0)) ELSE floor((net_income / nullif(total_equity, 0)) * 10000.0 + 0.5) / 10000.0 END)        AS return_on_equity,
           (CASE WHEN isnan(CAST((total_assets / nullif(total_liabilities, 0)) AS DOUBLE)) OR abs(CAST((total_assets / nullif(total_liabilities, 0)) AS DOUBLE)) >= 461168601842738.8 THEN (total_assets / nullif(total_liabilities, 0)) ELSE floor((total_assets / nullif(total_liabilities, 0)) * 10000.0 + 0.5) / 10000.0 END) AS asset_to_liability_ratio,
           (CASE WHEN isnan(CAST(((operating_cash_flow - capital_expenditure) / nullif(total_revenue, 0)) AS DOUBLE)) OR abs(CAST(((operating_cash_flow - capital_expenditure) / nullif(total_revenue, 0)) AS DOUBLE)) >= 461168601842738.8 THEN ((operating_cash_flow - capital_expenditure) / nullif(total_revenue, 0)) ELSE floor(((operating_cash_flow - capital_expenditure) / nullif(total_revenue, 0)) * 10000.0 + 0.5) / 10000.0 END)
               AS fcf_margin
    FROM inc LEFT JOIN bal USING (symbol, fiscal_date)
             LEFT JOIN cf  USING (symbol, fiscal_date)
    """

ORACLES["economic_indicators"] = f"""
    WITH fred AS (
        SELECT CAST(ts AS DATE) AS date, {_SERIES_CASE} AS series_id, value
        FROM events
    )
    SELECT date, series_id, value, {_INDICATOR_CASE} AS indicator_name
    FROM fred
    """

ORACLES["indicator_stats"] = f"""
    WITH fred AS (
        SELECT CAST(ts AS DATE) AS date, {_SERIES_CASE} AS series_id, value
        FROM events
    ), ind AS (
        SELECT date, series_id, value, {_INDICATOR_CASE} AS indicator_name
        FROM fred
    )
    SELECT series_id, indicator_name,
           count(*) AS n_obs,
           (CASE WHEN isnan(CAST((avg(value)) AS DOUBLE)) OR abs(CAST((avg(value)) AS DOUBLE)) >= 4611686018427.388 THEN (avg(value)) ELSE floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 END) AS avg_value,
           (CASE WHEN isnan(CAST((min(value)) AS DOUBLE)) OR abs(CAST((min(value)) AS DOUBLE)) >= 4611686018427.388 THEN (min(value)) ELSE floor((min(value)) * 1000000.0 + 0.5) / 1000000.0 END) AS min_value,
           (CASE WHEN isnan(CAST((max(value)) AS DOUBLE)) OR abs(CAST((max(value)) AS DOUBLE)) >= 4611686018427.388 THEN (max(value)) ELSE floor((max(value)) * 1000000.0 + 0.5) / 1000000.0 END) AS max_value
    FROM ind
    GROUP BY 1, 2
    """

ORACLES["filter_eq_projection"] = """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderstatus = 'F'
    """

ORACLES["literal_columns"] = """
    SELECT o_orderkey, 'AAPL' AS symbol, 'income_statement' AS report_type
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    """

ORACLES["case_value_mapping"] = """
    SELECT event_id,
           CASE WHEN event_type = 'view'     THEN 'Page View'
                WHEN event_type = 'click'    THEN 'Click Through'
                WHEN event_type = 'purchase' THEN 'Purchase Order'
                WHEN event_type = 'signup'   THEN 'Account Signup'
                WHEN event_type = 'error'    THEN 'Error Event'
           END AS event_name
    FROM events
    """

ORACLES["string_normalize"] = """
    SELECT p_partkey, lower(trim(p_name)) AS p_name_norm, lower(trim(p_brand)) AS p_brand_norm
    FROM part
    """

ORACLES["cast_text_to_numeric"] = """
    SELECT event_id, TRY_CAST(props AS DOUBLE) AS props_num,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
    """

ORACLES["pivot_by_report_type"] = """
    SELECT user_id,
           CAST(ts AS DATE) AS day,
           (CASE WHEN isnan(CAST((sum(CASE WHEN event_type = 'view'     THEN value END)) AS DOUBLE)) OR abs(CAST((sum(CASE WHEN event_type = 'view'     THEN value END)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(CASE WHEN event_type = 'view'     THEN value END)) ELSE floor((sum(CASE WHEN event_type = 'view'     THEN value END)) * 1000000.0 + 0.5) / 1000000.0 END) AS view_total,
           (CASE WHEN isnan(CAST((sum(CASE WHEN event_type = 'click'    THEN value END)) AS DOUBLE)) OR abs(CAST((sum(CASE WHEN event_type = 'click'    THEN value END)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(CASE WHEN event_type = 'click'    THEN value END)) ELSE floor((sum(CASE WHEN event_type = 'click'    THEN value END)) * 1000000.0 + 0.5) / 1000000.0 END) AS click_total,
           (CASE WHEN isnan(CAST((sum(CASE WHEN event_type = 'purchase' THEN value END)) AS DOUBLE)) OR abs(CAST((sum(CASE WHEN event_type = 'purchase' THEN value END)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(CASE WHEN event_type = 'purchase' THEN value END)) ELSE floor((sum(CASE WHEN event_type = 'purchase' THEN value END)) * 1000000.0 + 0.5) / 1000000.0 END) AS purchase_total
    FROM events
    GROUP BY 1, 2
    """

ORACLES["lookup_join_broadcast"] = """
    SELECT c.c_custkey, c.c_name, n.n_name AS nation, r.r_name AS region
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """

ORACLES["hourly_event_rollup"] = """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           (CASE WHEN isnan(CAST((CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0) AS DOUBLE)) OR abs(CAST((CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN (CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0) ELSE floor((CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0) * 100.0 + 0.5) / 100.0 END) AS total_value,
           (CASE WHEN isnan(CAST((CAST((sum(CAST(round(value * 100) AS BIGINT)) * 10000)
                      // nullif(count(value), 0) AS DOUBLE)
                 / 1000000.0) AS DOUBLE)) OR abs(CAST((CAST((sum(CAST(round(value * 100) AS BIGINT)) * 10000)
                      // nullif(count(value), 0) AS DOUBLE)
                 / 1000000.0) AS DOUBLE)) >= 4611686018427.388 THEN (CAST((sum(CAST(round(value * 100) AS BIGINT)) * 10000)
                      // nullif(count(value), 0) AS DOUBLE)
                 / 1000000.0) ELSE floor((CAST((sum(CAST(round(value * 100) AS BIGINT)) * 10000)
                      // nullif(count(value), 0) AS DOUBLE)
                 / 1000000.0) * 1000000.0 + 0.5) / 1000000.0 END) AS avg_value
    FROM events
    GROUP BY 1, 2
    """

ORACLES["sessionize_events"] = """
    WITH o AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
        SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess
        FROM o
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           user_id,
           count(*) AS n_events,
           (CASE WHEN isnan(CAST((sum(value)) AS DOUBLE)) OR abs(CAST((sum(value)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value)) ELSE floor((sum(value)) * 1000000.0 + 0.5) / 1000000.0 END) AS total_value
    FROM s
    GROUP BY user_id, sess
    """

ORACLES["monthly_trend_mom"] = """
    WITH m AS (
        SELECT event_type AS series_id,
               date_trunc('month', ts) AS month,
               (CASE WHEN isnan(CAST((avg(value)) AS DOUBLE)) OR abs(CAST((avg(value)) AS DOUBLE)) >= 4611686018427.388 THEN (avg(value)) ELSE floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 END) AS avg_value
        FROM events GROUP BY 1, 2
    )
    SELECT series_id, month, avg_value,
           (CASE WHEN isnan(CAST((avg_value - lag(avg_value) OVER (PARTITION BY series_id ORDER BY month)) AS DOUBLE)) OR abs(CAST((avg_value - lag(avg_value) OVER (PARTITION BY series_id ORDER BY month)) AS DOUBLE)) >= 4611686018427.388 THEN (avg_value - lag(avg_value) OVER (PARTITION BY series_id ORDER BY month)) ELSE floor((avg_value - lag(avg_value) OVER (PARTITION BY series_id ORDER BY month)) * 1000000.0 + 0.5) / 1000000.0 END)
               AS mom_change
    FROM m
    """

ORACLES["merge_latest_per_key"] = """
    SELECT event_id, ts, user_id, event_type, value
    FROM (
        SELECT event_id, ts, user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id ASC) AS rn
        FROM events
    ) WHERE rn = 1
    """

ORACLES["q1_pricing_summary"] = """
    SELECT l_returnflag, l_linestatus,
           (CASE WHEN isnan(CAST((sum(l_quantity)) AS DOUBLE)) OR abs(CAST((sum(l_quantity)) AS DOUBLE)) >= 461168601842738.8 THEN (sum(l_quantity)) ELSE floor((sum(l_quantity)) * 10000.0 + 0.5) / 10000.0 END)                                        AS sum_qty,
           (CASE WHEN isnan(CAST((sum(l_extendedprice)) AS DOUBLE)) OR abs(CAST((sum(l_extendedprice)) AS DOUBLE)) >= 461168601842738.8 THEN (sum(l_extendedprice)) ELSE floor((sum(l_extendedprice)) * 10000.0 + 0.5) / 10000.0 END)                                   AS sum_base_price,
           (CASE WHEN isnan(CAST((sum(l_extendedprice * (1 - l_discount))) AS DOUBLE)) OR abs(CAST((sum(l_extendedprice * (1 - l_discount))) AS DOUBLE)) >= 461168601842738.8 THEN (sum(l_extendedprice * (1 - l_discount))) ELSE floor((sum(l_extendedprice * (1 - l_discount))) * 10000.0 + 0.5) / 10000.0 END)                AS sum_disc_price,
           (CASE WHEN isnan(CAST((sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) AS DOUBLE)) OR abs(CAST((sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) AS DOUBLE)) >= 461168601842738.8 THEN (sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) ELSE floor((sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) * 10000.0 + 0.5) / 10000.0 END)  AS sum_charge,
           (CASE WHEN isnan(CAST((avg(l_quantity)) AS DOUBLE)) OR abs(CAST((avg(l_quantity)) AS DOUBLE)) >= 4611686018427.388 THEN (avg(l_quantity)) ELSE floor((avg(l_quantity)) * 1000000.0 + 0.5) / 1000000.0 END)                                        AS avg_qty,
           (CASE WHEN isnan(CAST((avg(l_extendedprice)) AS DOUBLE)) OR abs(CAST((avg(l_extendedprice)) AS DOUBLE)) >= 4611686018427.388 THEN (avg(l_extendedprice)) ELSE floor((avg(l_extendedprice)) * 1000000.0 + 0.5) / 1000000.0 END)                                   AS avg_price,
           (CASE WHEN isnan(CAST((avg(l_discount)) AS DOUBLE)) OR abs(CAST((avg(l_discount)) AS DOUBLE)) >= 4611686018427.388 THEN (avg(l_discount)) ELSE floor((avg(l_discount)) * 1000000.0 + 0.5) / 1000000.0 END)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """

ORACLES["q3_top_orders"] = """
    SELECT o_orderkey, revenue, o_orderdate, o_orderpriority, rnk
    FROM (
        SELECT l.l_orderkey AS o_orderkey,
               (CASE WHEN isnan(CAST((sum(l.l_extendedprice * (1 - l.l_discount))) AS DOUBLE)) OR abs(CAST((sum(l.l_extendedprice * (1 - l.l_discount))) AS DOUBLE)) >= 461168601842738.8 THEN (sum(l.l_extendedprice * (1 - l.l_discount))) ELSE floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 10000.0 + 0.5) / 10000.0 END) AS revenue,
               o.o_orderdate, o.o_orderpriority,
               row_number() OVER (
                   ORDER BY (CASE WHEN isnan(CAST((sum(l.l_extendedprice * (1 - l.l_discount))) AS DOUBLE)) OR abs(CAST((sum(l.l_extendedprice * (1 - l.l_discount))) AS DOUBLE)) >= 461168601842738.8 THEN (sum(l.l_extendedprice * (1 - l.l_discount))) ELSE floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 10000.0 + 0.5) / 10000.0 END) DESC,
                            l.l_orderkey ASC) AS rnk
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ) WHERE rnk <= 20
    """

ORACLES["regional_revenue"] = """
    SELECT r.r_name AS region, n.n_name AS nation,
           (CASE WHEN isnan(CAST((sum(l.l_extendedprice * (1 - l.l_discount))) AS DOUBLE)) OR abs(CAST((sum(l.l_extendedprice * (1 - l.l_discount))) AS DOUBLE)) >= 461168601842738.8 THEN (sum(l.l_extendedprice * (1 - l.l_discount))) ELSE floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 10000.0 + 0.5) / 10000.0 END) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """

ORACLES["text_stats"] = f"""
    SELECT doc_id,
           len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> ''))                          AS n_tokens,
           len(regexp_extract_all(text, '{_BPE_RE}'))    AS n_tokens_bpe,
           length(text)                                                         AS n_chars_calc,
           (CASE WHEN isnan(CAST((list_sum(list_transform(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> ''),
                                         t -> length(t)))
                 / nullif(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')), 0)) AS DOUBLE)) OR abs(CAST((list_sum(list_transform(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> ''),
                                         t -> length(t)))
                 / nullif(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')), 0)) AS DOUBLE)) >= 461168601842738.8 THEN (list_sum(list_transform(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> ''),
                                         t -> length(t)))
                 / nullif(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')), 0)) ELSE floor((list_sum(list_transform(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> ''),
                                         t -> length(t)))
                 / nullif(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')), 0)) * 10000.0 + 0.5) / 10000.0 END)   AS avg_token_len,
           (CASE WHEN isnan(CAST((length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                 / nullif(length(text), 0)) AS DOUBLE)) OR abs(CAST((length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                 / nullif(length(text), 0)) AS DOUBLE)) >= 461168601842738.8 THEN (length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                 / nullif(length(text), 0)) ELSE floor((length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                 / nullif(length(text), 0)) * 10000.0 + 0.5) / 10000.0 END)                                  AS punct_ratio,
           (CASE WHEN isnan(CAST((length(regexp_replace(text, '[^0-9]', '', 'g'))
                 / nullif(length(text), 0)) AS DOUBLE)) OR abs(CAST((length(regexp_replace(text, '[^0-9]', '', 'g'))
                 / nullif(length(text), 0)) AS DOUBLE)) >= 461168601842738.8 THEN (length(regexp_replace(text, '[^0-9]', '', 'g'))
                 / nullif(length(text), 0)) ELSE floor((length(regexp_replace(text, '[^0-9]', '', 'g'))
                 / nullif(length(text), 0)) * 10000.0 + 0.5) / 10000.0 END)                                  AS digit_ratio
    FROM documents
    """

ORACLES["quality_scores"] = f"""
    SELECT doc_id, {_QUALITY_SQL} AS quality
    FROM documents
    """

ORACLES["doc_fingerprints"] = """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """

ORACLES["dedup_exact"] = """
    SELECT doc_id, lang, source, n_chars
    FROM (
        SELECT doc_id, lang, source, n_chars,
               row_number() OVER (
                   PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
    """

ORACLES["ngram_jaccard_pairs"] = f"""
    WITH t AS (
        SELECT doc_id, lang, source, list_distinct({_TOKS}) AS toks,
               len(list_distinct({_TOKS})) AS n_toks
        FROM documents
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               (CASE WHEN isnan(CAST((len(list_intersect(a.toks, b.toks))
                     / nullif(CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 0)) AS DOUBLE)) OR abs(CAST((len(list_intersect(a.toks, b.toks))
                     / nullif(CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 0)) AS DOUBLE)) >= 461168601842738.8 THEN (len(list_intersect(a.toks, b.toks))
                     / nullif(CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 0)) ELSE floor((len(list_intersect(a.toks, b.toks))
                     / nullif(CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 0)) * 10000.0 + 0.5) / 10000.0 END) AS jaccard
        FROM t a JOIN t b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         AND b.n_toks >= ceil(a.n_toks * 0.5) AND a.n_toks >= ceil(b.n_toks * 0.5)
    )
    SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5
    """

ORACLES["dedup_clusters"] = f"""
    WITH RECURSIVE t AS (
        SELECT doc_id, lang, source, list_distinct({_TOKS}) AS toks,
               len(list_distinct({_TOKS})) AS n_toks
        FROM documents
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               (CASE WHEN isnan(CAST((len(list_intersect(a.toks, b.toks))
                     / nullif(CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 0)) AS DOUBLE)) OR abs(CAST((len(list_intersect(a.toks, b.toks))
                     / nullif(CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 0)) AS DOUBLE)) >= 461168601842738.8 THEN (len(list_intersect(a.toks, b.toks))
                     / nullif(CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 0)) ELSE floor((len(list_intersect(a.toks, b.toks))
                     / nullif(CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 0)) * 10000.0 + 0.5) / 10000.0 END) AS jaccard
        FROM t a JOIN t b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         AND b.n_toks >= ceil(a.n_toks * 0.5) AND a.n_toks >= ceil(b.n_toks * 0.5)
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs WHERE jaccard >= 0.5
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs WHERE jaccard >= 0.5
    ), reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, reach.r FROM edges e JOIN reach ON reach.id = e.src
    )
    SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    """

ORACLES["minhash_lsh_near_dup"] = f"""
    WITH t AS (SELECT * FROM '{_AUX_DIR}/minhash_index/*.parquet'),
    bandrows AS (
        SELECT id, u.band_idx AS band_idx, u.band_hash AS band_hash
        FROM (SELECT id, unnest(bands) AS u FROM t)
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bandrows a JOIN bandrows b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.id < b.id
    ),
    s AS (SELECT id, sh FROM t),
    scored AS (
        SELECT c.id_a, c.id_b,
               (CASE WHEN isnan(CAST((CAST(len(list_distinct(list_intersect(sa.sh, sb.sh))) AS DOUBLE)
                     / nullif(len(list_distinct(list_concat(sa.sh, sb.sh))), 0)) AS DOUBLE)) OR abs(CAST((CAST(len(list_distinct(list_intersect(sa.sh, sb.sh))) AS DOUBLE)
                     / nullif(len(list_distinct(list_concat(sa.sh, sb.sh))), 0)) AS DOUBLE)) >= 461168601842738.8 THEN (CAST(len(list_distinct(list_intersect(sa.sh, sb.sh))) AS DOUBLE)
                     / nullif(len(list_distinct(list_concat(sa.sh, sb.sh))), 0)) ELSE floor((CAST(len(list_distinct(list_intersect(sa.sh, sb.sh))) AS DOUBLE)
                     / nullif(len(list_distinct(list_concat(sa.sh, sb.sh))), 0)) * 10000.0 + 0.5) / 10000.0 END) AS jaccard
        FROM cand c JOIN s sa ON sa.id = c.id_a JOIN s sb ON sb.id = c.id_b
    )
    SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5
    """

ORACLES["similarity_topk"] = """
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
    ), c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    ), scored AS (
        SELECT query_id, neighbor_id,
               (CASE WHEN isnan(CAST((list_dot_product(qv, cv)
                     / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)), 0)) AS DOUBLE)) OR abs(CAST((list_dot_product(qv, cv)
                     / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (list_dot_product(qv, cv)
                     / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)), 0)) ELSE floor((list_dot_product(qv, cv)
                     / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)), 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS score
        FROM c, q
        WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, score, rank FROM (
        SELECT query_id, neighbor_id, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 10
    """

ORACLES["ann_lsh_topk"] = f"""
    WITH b AS (SELECT * FROM '{_AUX_DIR}/ann_lsh_buckets/*.parquet'),
    q AS (SELECT id AS query_id, tbl, bucket FROM b WHERE id IN (0, 1, 2, 3, 4)),
    cand AS (
        SELECT DISTINCT q.query_id, c.id AS neighbor_id
        FROM b c JOIN q ON c.tbl = q.tbl AND c.bucket = q.bucket
        WHERE c.id <> q.query_id
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (
        SELECT cand.query_id, cand.neighbor_id,
               (CASE WHEN isnan(CAST((list_dot_product(qe.v, ce.v)
                     / nullif(sqrt(list_dot_product(qe.v, qe.v))
                              * sqrt(list_dot_product(ce.v, ce.v)), 0)) AS DOUBLE)) OR abs(CAST((list_dot_product(qe.v, ce.v)
                     / nullif(sqrt(list_dot_product(qe.v, qe.v))
                              * sqrt(list_dot_product(ce.v, ce.v)), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (list_dot_product(qe.v, ce.v)
                     / nullif(sqrt(list_dot_product(qe.v, qe.v))
                              * sqrt(list_dot_product(ce.v, ce.v)), 0)) ELSE floor((list_dot_product(qe.v, ce.v)
                     / nullif(sqrt(list_dot_product(qe.v, qe.v))
                              * sqrt(list_dot_product(ce.v, ce.v)), 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS score
        FROM cand JOIN e qe ON qe.vec_id = cand.query_id
                  JOIN e ce ON ce.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rank
    FROM s
    QUALIFY rank <= 10
    """

ORACLES["multimodal_bundle"] = """
    SELECT d.doc_id, d.lang, d.n_chars, len(e.embedding) AS dim, e.label
    FROM documents d
    JOIN embeddings e ON d.doc_id = e.vec_id
    """

ORACLES["rolling_hash_fingerprints"] = """
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(
                       string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ''),
                       ch -> CAST(ascii(ch) AS BIGINT))),
               (acc, x) -> (acc * 131 + x) % 2147483647) AS rhash
    FROM documents
    """

ORACLES["embedding_cosine_dups"] = """
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           (CASE WHEN isnan(CAST((list_dot_product(a.v, b.v)
                 / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0)) AS DOUBLE)) OR abs(CAST((list_dot_product(a.v, b.v)
                 / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (list_dot_product(a.v, b.v)
                 / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0)) ELSE floor((list_dot_product(a.v, b.v)
                 / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS score
    FROM e a JOIN e b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE (CASE WHEN isnan(CAST((list_dot_product(a.v, b.v)
                / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0)) AS DOUBLE)) OR abs(CAST((list_dot_product(a.v, b.v)
                / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (list_dot_product(a.v, b.v)
                / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0)) ELSE floor((list_dot_product(a.v, b.v)
                / nullif(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)), 0)) * 1000000.0 + 0.5) / 1000000.0 END) >= 0.4
    """

ORACLES["lsh_embedding_cosine_dups"] = f"""
    WITH bk AS (SELECT * FROM '{_AUX_DIR}/lshdup_buckets/*.parquet'),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bk a JOIN bk b
          ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
        SELECT cand.id_a, cand.id_b,
               (CASE WHEN isnan(CAST((list_dot_product(ea.v, eb.v)
                     / nullif(sqrt(list_dot_product(ea.v, ea.v))
                              * sqrt(list_dot_product(eb.v, eb.v)), 0)) AS DOUBLE)) OR abs(CAST((list_dot_product(ea.v, eb.v)
                     / nullif(sqrt(list_dot_product(ea.v, ea.v))
                              * sqrt(list_dot_product(eb.v, eb.v)), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (list_dot_product(ea.v, eb.v)
                     / nullif(sqrt(list_dot_product(ea.v, ea.v))
                              * sqrt(list_dot_product(eb.v, eb.v)), 0)) ELSE floor((list_dot_product(ea.v, eb.v)
                     / nullif(sqrt(list_dot_product(ea.v, ea.v))
                              * sqrt(list_dot_product(eb.v, eb.v)), 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS score
        FROM cand JOIN e ea ON ea.vec_id = cand.id_a
                  JOIN e eb ON eb.vec_id = cand.id_b
    )
    SELECT id_a, id_b, score FROM scored WHERE score >= 0.4
    """

ORACLES["ann_ivf_topk"] = f"""
    WITH ix AS (SELECT * FROM '{_AUX_DIR}/ivf_index/*.parquet'),
    pr AS (SELECT * FROM '{_AUX_DIR}/ivf_probes/*.parquet'),
    cand AS (
        SELECT pr.query_id, ix.id AS neighbor_id
        FROM ix JOIN pr USING (cell)
        WHERE ix.id <> pr.query_id
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (
        SELECT cand.query_id, cand.neighbor_id,
               (CASE WHEN isnan(CAST((list_dot_product(qe.v, ce.v)
                     / nullif(sqrt(list_dot_product(qe.v, qe.v))
                              * sqrt(list_dot_product(ce.v, ce.v)), 0)) AS DOUBLE)) OR abs(CAST((list_dot_product(qe.v, ce.v)
                     / nullif(sqrt(list_dot_product(qe.v, qe.v))
                              * sqrt(list_dot_product(ce.v, ce.v)), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (list_dot_product(qe.v, ce.v)
                     / nullif(sqrt(list_dot_product(qe.v, qe.v))
                              * sqrt(list_dot_product(ce.v, ce.v)), 0)) ELSE floor((list_dot_product(qe.v, ce.v)
                     / nullif(sqrt(list_dot_product(qe.v, qe.v))
                              * sqrt(list_dot_product(ce.v, ce.v)), 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS score
        FROM cand JOIN e qe ON qe.vec_id = cand.query_id
                  JOIN e ce ON ce.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rank
    FROM s
    QUALIFY rank <= 10
    """

ORACLES["q5_local_supplier_volume"] = """
    SELECT n.n_name AS nation,
           (CASE WHEN isnan(CAST((sum(l.l_extendedprice * (1 - l.l_discount))) AS DOUBLE)) OR abs(CAST((sum(l.l_extendedprice * (1 - l.l_discount))) AS DOUBLE)) >= 461168601842738.8 THEN (sum(l.l_extendedprice * (1 - l.l_discount))) ELSE floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 10000.0 + 0.5) / 10000.0 END) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1
    """

ORACLES["q6_revenue_forecast"] = """
    SELECT (CASE WHEN isnan(CAST((sum(l_extendedprice * l_discount)) AS DOUBLE)) OR abs(CAST((sum(l_extendedprice * l_discount)) AS DOUBLE)) >= 461168601842738.8 THEN (sum(l_extendedprice * l_discount)) ELSE floor((sum(l_extendedprice * l_discount)) * 10000.0 + 0.5) / 10000.0 END) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """

ORACLES["q10_returned_item_revenue"] = """
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           (CASE WHEN isnan(CAST((sum(l.l_extendedprice * (1 - l.l_discount))) AS DOUBLE)) OR abs(CAST((sum(l.l_extendedprice * (1 - l.l_discount))) AS DOUBLE)) >= 461168601842738.8 THEN (sum(l.l_extendedprice * (1 - l.l_discount))) ELSE floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 10000.0 + 0.5) / 10000.0 END) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """

ORACLES["q14_promo_revenue_share"] = """
    SELECT (CASE WHEN isnan(CAST((100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
             / nullif(sum(l.l_extendedprice * (1 - l.l_discount)), 0)) AS DOUBLE)) OR abs(CAST((100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
             / nullif(sum(l.l_extendedprice * (1 - l.l_discount)), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
             / nullif(sum(l.l_extendedprice * (1 - l.l_discount)), 0)) ELSE floor((100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
             / nullif(sum(l.l_extendedprice * (1 - l.l_discount)), 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS promo_share_pct,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1996-02-01'
    """

ORACLES["q19_bracketed_discount_revenue"] = """
    SELECT p.p_brand,
           (CASE WHEN isnan(CAST((sum(l.l_extendedprice * (1 - l.l_discount))) AS DOUBLE)) OR abs(CAST((sum(l.l_extendedprice * (1 - l.l_discount))) AS DOUBLE)) >= 461168601842738.8 THEN (sum(l.l_extendedprice * (1 - l.l_discount))) ELSE floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 10000.0 + 0.5) / 10000.0 END) AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#11' AND l.l_quantity BETWEEN 1 AND 11 AND p.p_size <= 5)
       OR (p.p_brand = 'Brand#13' AND l.l_quantity BETWEEN 10 AND 20 AND p.p_size <= 10)
       OR (p.p_brand = 'Brand#21' AND l.l_quantity BETWEEN 20 AND 30 AND p.p_size <= 15)
    GROUP BY 1
    """

ORACLES["q13_order_count_distribution"] = """
    SELECT c_count, count(*) AS n_customers
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY 1
    ) t
    GROUP BY 1
    ORDER BY n_customers DESC, c_count DESC
    """

ORACLES["q15_top_supplier"] = """
    WITH rev AS (
        SELECT l_suppkey AS suppkey,
               sum(l_extendedprice * (1 - l_discount)) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, (CASE WHEN isnan(CAST((r.total_revenue) AS DOUBLE)) OR abs(CAST((r.total_revenue) AS DOUBLE)) >= 461168601842738.8 THEN (r.total_revenue) ELSE floor((r.total_revenue) * 10000.0 + 0.5) / 10000.0 END) AS total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """

ORACLES["q17_small_quantity_revenue"] = """
    WITH brand_lines AS (
        SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#11'
    ), thresh AS (
        SELECT l_partkey AS t_partkey, 0.2 * avg(l_quantity) AS qty_thresh
        FROM brand_lines GROUP BY 1
    )
    SELECT (CASE WHEN isnan(CAST((sum(b.l_extendedprice) / 7.0) AS DOUBLE)) OR abs(CAST((sum(b.l_extendedprice) / 7.0) AS DOUBLE)) >= 461168601842738.8 THEN (sum(b.l_extendedprice) / 7.0) ELSE floor((sum(b.l_extendedprice) / 7.0) * 10000.0 + 0.5) / 10000.0 END) AS avg_yearly,
           count(*) AS n_lines
    FROM brand_lines b JOIN thresh t ON b.l_partkey = t.t_partkey
    WHERE b.l_quantity < t.qty_thresh
    """

ORACLES["q18_large_volume_orders"] = """
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           sum(l.l_quantity) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150
    )
    GROUP BY 1, 2, 3, 4, 5
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """

ORACLES["q22_idle_rich_customers"] = """
    WITH ab AS (SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0.0)
    SELECT c.c_mktsegment, count(*) AS numcust,
           (CASE WHEN isnan(CAST((sum(c.c_acctbal)) AS DOUBLE)) OR abs(CAST((sum(c.c_acctbal)) AS DOUBLE)) >= 461168601842738.8 THEN (sum(c.c_acctbal)) ELSE floor((sum(c.c_acctbal)) * 10000.0 + 0.5) / 10000.0 END) AS totacctbal
    FROM customer c, ab
    WHERE c.c_acctbal > ab.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-07-01')
    GROUP BY 1
    ORDER BY 1
    """

ORACLES["order_price_quantiles"] = """
    SELECT o_orderpriority,
           (CASE WHEN isnan(CAST((quantile_cont(o_totalprice, 0.5)) AS DOUBLE)) OR abs(CAST((quantile_cont(o_totalprice, 0.5)) AS DOUBLE)) >= 461168601842738.8 THEN (quantile_cont(o_totalprice, 0.5)) ELSE floor((quantile_cont(o_totalprice, 0.5)) * 10000.0 + 0.5) / 10000.0 END)  AS median_price,
           (CASE WHEN isnan(CAST((quantile_cont(o_totalprice, 0.9)) AS DOUBLE)) OR abs(CAST((quantile_cont(o_totalprice, 0.9)) AS DOUBLE)) >= 461168601842738.8 THEN (quantile_cont(o_totalprice, 0.9)) ELSE floor((quantile_cont(o_totalprice, 0.9)) * 10000.0 + 0.5) / 10000.0 END)  AS p90_price,
           (CASE WHEN isnan(CAST((min(o_totalprice)) AS DOUBLE)) OR abs(CAST((min(o_totalprice)) AS DOUBLE)) >= 461168601842738.8 THEN (min(o_totalprice)) ELSE floor((min(o_totalprice)) * 10000.0 + 0.5) / 10000.0 END) AS min_price,
           (CASE WHEN isnan(CAST((max(o_totalprice)) AS DOUBLE)) OR abs(CAST((max(o_totalprice)) AS DOUBLE)) >= 461168601842738.8 THEN (max(o_totalprice)) ELSE floor((max(o_totalprice)) * 10000.0 + 0.5) / 10000.0 END) AS max_price
    FROM orders
    GROUP BY 1
    """

ORACLES["price_quantiles_distributed"] = """
    SELECT o_orderpriority,
           (CASE WHEN isnan(CAST((quantile_cont(o_totalprice, 0.5)) AS DOUBLE)) OR abs(CAST((quantile_cont(o_totalprice, 0.5)) AS DOUBLE)) >= 461168601842738.8 THEN (quantile_cont(o_totalprice, 0.5)) ELSE floor((quantile_cont(o_totalprice, 0.5)) * 10000.0 + 0.5) / 10000.0 END) AS median_price,
           (CASE WHEN isnan(CAST((quantile_cont(o_totalprice, 0.9)) AS DOUBLE)) OR abs(CAST((quantile_cont(o_totalprice, 0.9)) AS DOUBLE)) >= 461168601842738.8 THEN (quantile_cont(o_totalprice, 0.9)) ELSE floor((quantile_cont(o_totalprice, 0.9)) * 10000.0 + 0.5) / 10000.0 END) AS p90_price
    FROM orders
    GROUP BY 1
    """

ORACLES["regional_rollup"] = """
    SELECT r.r_name AS region, n.n_name AS nation,
           (CASE WHEN isnan(CAST((sum(l.l_extendedprice * (1 - l.l_discount))) AS DOUBLE)) OR abs(CAST((sum(l.l_extendedprice * (1 - l.l_discount))) AS DOUBLE)) >= 461168601842738.8 THEN (sum(l.l_extendedprice * (1 - l.l_discount))) ELSE floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 10000.0 + 0.5) / 10000.0 END) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """

ORACLES["distinct_daily_users"] = """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT event_type) AS n_event_types,
           count(*) AS n_events
    FROM events
    GROUP BY 1
    """

ORACLES["customer_segments_setops"] = """
    WITH buyers AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'),
         open_ AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O')
    SELECT 'both' AS segment, count(*) AS n FROM (SELECT custkey FROM buyers INTERSECT SELECT custkey FROM open_)
    UNION ALL
    SELECT 'finished_only' AS segment, count(*) AS n FROM (SELECT custkey FROM buyers EXCEPT SELECT custkey FROM open_)
    UNION ALL
    SELECT 'open_only' AS segment, count(*) AS n FROM (SELECT custkey FROM open_ EXCEPT SELECT custkey FROM buyers)
    """

ORACLES["retention_filter"] = """
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE ts >= (SELECT max(ts) - INTERVAL 21 DAY FROM events)
    """

ORACLES["cumulative_monthly_revenue"] = """
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               (CASE WHEN isnan(CAST((sum(o_totalprice)) AS DOUBLE)) OR abs(CAST((sum(o_totalprice)) AS DOUBLE)) >= 461168601842738.8 THEN (sum(o_totalprice)) ELSE floor((sum(o_totalprice)) * 10000.0 + 0.5) / 10000.0 END) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           (CASE WHEN isnan(CAST((sum(revenue) OVER (ORDER BY month
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS DOUBLE)) OR abs(CAST((sum(revenue) OVER (ORDER BY month
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS DOUBLE)) >= 461168601842738.8 THEN (sum(revenue) OVER (ORDER BY month
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) ELSE floor((sum(revenue) OVER (ORDER BY month
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 10000.0 + 0.5) / 10000.0 END) AS cum_revenue
    FROM m
    """

ORACLES["streaming_hourly_rollup"] = """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           (CASE WHEN isnan(CAST((sum(value)) AS DOUBLE)) OR abs(CAST((sum(value)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value)) ELSE floor((sum(value)) * 1000000.0 + 0.5) / 1000000.0 END) AS total_value
    FROM events
    GROUP BY 1, 2
    """

ORACLES["streaming_dedup_events"] = """
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    """

ORACLES["stateful_user_totals"] = """
    SELECT user_id, count(*) AS n_events, (CASE WHEN isnan(CAST((sum(value)) AS DOUBLE)) OR abs(CAST((sum(value)) AS DOUBLE)) >= 461168601842738.8 THEN (sum(value)) ELSE floor((sum(value)) * 10000.0 + 0.5) / 10000.0 END) AS total_value
    FROM events GROUP BY user_id
    """

ORACLES["rolling_7day_revenue"] = """
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               date_diff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE)) AS dnum,
               (CASE WHEN isnan(CAST((sum(value)) AS DOUBLE)) OR abs(CAST((sum(value)) AS DOUBLE)) >= 461168601842738.8 THEN (sum(value)) ELSE floor((sum(value)) * 10000.0 + 0.5) / 10000.0 END) AS daily_value
        FROM events
        GROUP BY 1, 2, 3
    )
    SELECT event_type, day, daily_value,
           (CASE WHEN isnan(CAST((sum(daily_value) OVER (
               PARTITION BY event_type ORDER BY dnum
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)) AS DOUBLE)) OR abs(CAST((sum(daily_value) OVER (
               PARTITION BY event_type ORDER BY dnum
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)) AS DOUBLE)) >= 461168601842738.8 THEN (sum(daily_value) OVER (
               PARTITION BY event_type ORDER BY dnum
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)) ELSE floor((sum(daily_value) OVER (
               PARTITION BY event_type ORDER BY dnum
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)) * 10000.0 + 0.5) / 10000.0 END) AS rolling_7d
    FROM daily
    """

ORACLES["customer_spend_deciles"] = """
    WITH spend AS (
        SELECT c.c_custkey, (CASE WHEN isnan(CAST((sum(o.o_totalprice)) AS DOUBLE)) OR abs(CAST((sum(o.o_totalprice)) AS DOUBLE)) >= 461168601842738.8 THEN (sum(o.o_totalprice)) ELSE floor((sum(o.o_totalprice)) * 10000.0 + 0.5) / 10000.0 END) AS total_spend
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY 1
    )
    SELECT ntile(10) OVER (ORDER BY total_spend, c_custkey) AS decile,
           c_custkey, total_spend
    FROM spend
    """

ORACLES["corpus_clean"] = f"""
    WITH scored AS (
        SELECT doc_id, lang, source,
               {_QUALITY_SQL} AS quality,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents
    ), deduped AS (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM scored
        WHERE quality >= 0.3
    )
    SELECT doc_id, lang, source, quality FROM deduped WHERE rn = 1
    """

ORACLES["corpus_stats"] = """
    SELECT lang,
           count(*) AS n_docs,
           (CASE WHEN isnan(CAST((avg(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')))) AS DOUBLE)) OR abs(CAST((avg(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')))) AS DOUBLE)) >= 461168601842738.8 THEN (avg(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')))) ELSE floor((avg(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')))) * 10000.0 + 0.5) / 10000.0 END) AS avg_tokens,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars,
           (CASE WHEN isnan(CAST((quantile_cont(length(text), 0.5)) AS DOUBLE)) OR abs(CAST((quantile_cont(length(text), 0.5)) AS DOUBLE)) >= 461168601842738.8 THEN (quantile_cont(length(text), 0.5)) ELSE floor((quantile_cont(length(text), 0.5)) * 10000.0 + 0.5) / 10000.0 END) AS p50_chars,
           (CASE WHEN isnan(CAST((quantile_cont(length(text), 0.9)) AS DOUBLE)) OR abs(CAST((quantile_cont(length(text), 0.9)) AS DOUBLE)) >= 461168601842738.8 THEN (quantile_cont(length(text), 0.9)) ELSE floor((quantile_cont(length(text), 0.9)) * 10000.0 + 0.5) / 10000.0 END) AS p90_chars
    FROM documents
    GROUP BY lang
    """

ORACLES["corpus_hash_split"] = f"""
    SELECT doc_id, lang, source,
           CASE WHEN b < 0.8 * 256.0 THEN 'train'
                WHEN b < (0.8 + 0.1) * 256.0 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, lang, source, {_b256("split")} AS b FROM documents)
    """

ORACLES["corpus_mixture_sample"] = f"""
    SELECT doc_id, lang, source
    FROM (SELECT doc_id, lang, source, {_b256("sample")} AS b FROM documents)
    WHERE b < CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.5 WHEN 'es' THEN 0.5
                        WHEN 'fr' THEN 0.5 WHEN 'zh' THEN 0.25 ELSE 0.0 END * 256.0
    """

ORACLES["corpus_chunking"] = """
    WITH t AS (
        SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS toks FROM documents
    ), s AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, greatest(len(toks) - 16, 1), 48)) AS start
        FROM t
    )
    SELECT doc_id,
           CAST((start - 1) / 48 AS INT) AS chunk_idx,
           array_to_string(list_slice(toks, start, start + 63), ' ') AS chunk,
           CAST(len(list_slice(toks, start, start + 63)) AS INT) AS n_tokens
    FROM s
    """

ORACLES["ingest_fred_observations"] = """
    SELECT CAST(d AS DATE) AS observation_date,
           v AS value_raw,
           TRY_CAST(v AS DOUBLE) AS value
    FROM (VALUES ('2023-01-01', '26500.0'),
                 ('2023-04-01', '.'),
                 ('2023-07-01', '27000.5'),
                 ('2023-10-01', '27600.25')) AS t(d, v)
    """

ORACLES["asof_latest_view_before_purchase"] = """
    SELECT p.user_id, p.event_id, p.ts, p.value,
           v.ts AS ts_r, v.event_id AS event_id_r, v.value AS value_r
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """

ORACLES["video_frame_sample"] = """
    WITH media AS (
        SELECT doc_id,
               ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
               (n_chars % 480 + 1) * 100 AS duration_ms,
               CAST(n_chars % 640 AS INT) AS width,
               CAST(n_chars % 480 AS INT) AS height
        FROM documents
    )
    , frames AS (
        SELECT doc_id, width, height,
               unnest(generate_series(0,
                   greatest(CAST(least(ceil(duration_ms / 1000.0), 16) AS INT) - 1, 0))) AS f
        FROM media WHERE media_type = 'video'
    )
    SELECT doc_id,
           CAST(f AS INT) AS frame_idx,
           CAST(f * 1000 AS BIGINT) AS frame_ts_ms,
           width, height
    FROM frames
    """

ORACLES["media_decode_features"] = """
    WITH d AS (
        SELECT doc_id,
               CAST(8 + doc_id % 9 AS INT) AS width,
               CAST(8 + doc_id % 7 AS INT) AS height
        FROM documents
    ), grid AS (
        SELECT doc_id, width, height, gx.x AS x, gy.y AS y
        FROM d,
             LATERAL (SELECT unnest(generate_series(0, width - 1)) AS x) gx,
             LATERAL (SELECT unnest(generate_series(0, height - 1)) AS y) gy
    )
    SELECT doc_id, width, height,
           CAST(sum((doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS sum_r,
           CAST(sum((doc_id * 31 + x * 7 + y * 13 + 101) % 256) AS BIGINT) AS sum_g,
           CAST(sum((doc_id * 31 + x * 7 + y * 13 + 202) % 256) AS BIGINT) AS sum_b
    FROM grid
    GROUP BY 1, 2, 3
    """

ORACLES["lm_quality_scores"] = f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS t FROM documents
    ), uni AS (
        SELECT u.w AS w, count(*) AS c1
        FROM (SELECT unnest(t) AS w FROM toks) u GROUP BY 1
    ), v AS (SELECT count(*) AS vocab FROM uni),
    bg AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
    ), c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2)
    SELECT doc_id,
           (CASE WHEN isnan(CAST((avg(ln((c2.c2 + 0.5) / (uni.c1 + 0.5 * v.vocab)))) AS DOUBLE)) OR abs(CAST((avg(ln((c2.c2 + 0.5) / (uni.c1 + 0.5 * v.vocab)))) AS DOUBLE)) >= 4611686018427.388 THEN (avg(ln((c2.c2 + 0.5) / (uni.c1 + 0.5 * v.vocab)))) ELSE floor((avg(ln((c2.c2 + 0.5) / (uni.c1 + 0.5 * v.vocab)))) * 1000000.0 + 0.5) / 1000000.0 END) AS lm_score
    FROM bg JOIN c2 USING (w1, w2) JOIN uni ON uni.w = bg.w1 CROSS JOIN v
    GROUP BY 1
    """

ORACLES["media_resize_decode"] = """
    WITH d AS (
        SELECT doc_id,
               8 + doc_id % 9 AS w,
               8 + doc_id % 7 AS h
        FROM documents
    ), grid AS (
        SELECT doc_id, (gx.x * w) // 6 AS sx, (gy.y * h) // 5 AS sy
        FROM d,
             LATERAL (SELECT unnest(generate_series(0, 5)) AS x) gx,
             LATERAL (SELECT unnest(generate_series(0, 4)) AS y) gy
    )
    SELECT doc_id, CAST(6 AS INT) AS width, CAST(5 AS INT) AS height,
           CAST(sum((doc_id * 31 + sx * 7 + sy * 13) % 256) AS BIGINT) AS sum_r,
           CAST(sum((doc_id * 31 + sx * 7 + sy * 13 + 101) % 256) AS BIGINT) AS sum_g,
           CAST(sum((doc_id * 31 + sx * 7 + sy * 13 + 202) % 256) AS BIGINT) AS sum_b
    FROM grid
    GROUP BY 1
    """

ORACLES["q4_order_priority_semi"] = """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """

ORACLES["customers_without_orders_anti"] = """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """

ORACLES["repetition_metrics"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (
        SELECT doc_id, toks,
               CASE WHEN len(toks) >= 2
                    THEN list_transform(generate_series(1, len(toks)-1),
                                        i -> array_to_string(toks[i:i+1], ' '))
                    ELSE [] END AS grams
        FROM t
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           (CASE WHEN isnan(CAST((len(list_distinct(toks)) / nullif(CAST(len(toks) AS DOUBLE), 0)) AS DOUBLE)) OR abs(CAST((len(list_distinct(toks)) / nullif(CAST(len(toks) AS DOUBLE), 0)) AS DOUBLE)) >= 461168601842738.8 THEN (len(list_distinct(toks)) / nullif(CAST(len(toks) AS DOUBLE), 0)) ELSE floor((len(list_distinct(toks)) / nullif(CAST(len(toks) AS DOUBLE), 0)) * 10000.0 + 0.5) / 10000.0 END)
               AS type_token_ratio,
           (CASE WHEN isnan(CAST((list_max(list_transform(list_distinct(grams),
                                         x -> len(list_filter(grams, y -> y = x))))
                 / nullif(CAST(len(grams) AS DOUBLE), 0)) AS DOUBLE)) OR abs(CAST((list_max(list_transform(list_distinct(grams),
                                         x -> len(list_filter(grams, y -> y = x))))
                 / nullif(CAST(len(grams) AS DOUBLE), 0)) AS DOUBLE)) >= 461168601842738.8 THEN (list_max(list_transform(list_distinct(grams),
                                         x -> len(list_filter(grams, y -> y = x))))
                 / nullif(CAST(len(grams) AS DOUBLE), 0)) ELSE floor((list_max(list_transform(list_distinct(grams),
                                         x -> len(list_filter(grams, y -> y = x))))
                 / nullif(CAST(len(grams) AS DOUBLE), 0)) * 10000.0 + 0.5) / 10000.0 END) AS top_bigram_fraction
    FROM g
    """

ORACLES["pii_redaction"] = """
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com at 10.0.' || CAST(doc_id % 200 AS VARCHAR)
                    || '.' || CAST(doc_id % 250 AS VARCHAR)
                    || ' call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS text
        FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS n_ips,
           len(regexp_extract_all(text, '\\+?[0-9][0-9()\\- ]{7,}[0-9]')) AS n_phones,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
             '\\+?[0-9][0-9()\\- ]{7,}[0-9]', '<PHONE>', 'g') AS redacted
    FROM aug
    """

ORACLES["corpus_vocabulary"] = f"""
    SELECT token, count(*) AS n_occurrences
    FROM (SELECT unnest({_TOKS}) AS token FROM documents)
    GROUP BY token
    ORDER BY n_occurrences DESC, token
    LIMIT 100
    """

ORACLES["decontaminate_4gram"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks, {_b256("decon")} AS b FROM documents),
    grams AS (
        SELECT doc_id, b,
               unnest(list_transform(generate_series(1, len(toks)-3),
                                     i -> array_to_string(toks[i:i+3], ' '))) AS gram
        FROM t WHERE len(toks) >= 4
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE b < 13),
    train_grams AS (SELECT DISTINCT doc_id, gram FROM grams WHERE b >= 13)
    SELECT g.doc_id, count(*) AS n_contaminated_grams
    FROM train_grams g JOIN bench USING (gram)
    GROUP BY g.doc_id
    """

ORACLES["q7_nation_volume_shipping"] = """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           year(l.l_shipdate) AS ship_year,
           (CASE WHEN isnan(CAST((sum(l.l_extendedprice * (1 - l.l_discount))) AS DOUBLE)) OR abs(CAST((sum(l.l_extendedprice * (1 - l.l_discount))) AS DOUBLE)) >= 461168601842738.8 THEN (sum(l.l_extendedprice * (1 - l.l_discount))) ELSE floor((sum(l.l_extendedprice * (1 - l.l_discount))) * 10000.0 + 0.5) / 10000.0 END) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    WHERE ((sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
        OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """

ORACLES["q8_market_share"] = """
    WITH all_sales AS (
        SELECT year(o.o_orderdate) AS order_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               sn.n_name AS supp_nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
        JOIN region r   ON r.r_regionkey = cn.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO'
    )
    SELECT order_year,
           (CASE WHEN isnan(CAST((sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume)) AS DOUBLE)) OR abs(CAST((sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume)) AS DOUBLE)) >= 461168601842738.8 THEN (sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume)) ELSE floor((sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume)) * 10000.0 + 0.5) / 10000.0 END) AS mkt_share
    FROM all_sales
    GROUP BY order_year
    """

ORACLES["q12_late_shipment_priority"] = """
    SELECT CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY THEN 'late'
                WHEN l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY THEN 'slow'
                ELSE 'fast' END AS ship_speed,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """

ORACLES["q21_waiting_supplier"] = """
    WITH late AS (
        SELECT l.l_orderkey, l.l_suppkey
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    SELECT s.s_name, count(*) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s.s_name
    """

ORACLES["kmeans_cluster_profile"] = f"""
    WITH a AS (SELECT * FROM '{_AUX_DIR}/kmeans_assign/*.parquet'),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    j AS (
        SELECT a.cluster, e.vec_id, p.pos, e.v[p.pos] AS x
        FROM a JOIN e USING (vec_id)
        CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) p
    ),
    cent AS (SELECT cluster, pos, avg(x) AS m FROM j GROUP BY 1, 2),
    sq AS (
        SELECT j.cluster, j.vec_id, sum((j.x - c.m) * (j.x - c.m)) AS sq
        FROM j JOIN cent c ON c.cluster = j.cluster AND c.pos = j.pos
        GROUP BY 1, 2
    ),
    per AS (SELECT cluster, count(*) AS n_members,
                   (CASE WHEN isnan(CAST((avg(sqrt(sq))) AS DOUBLE)) OR abs(CAST((avg(sqrt(sq))) AS DOUBLE)) >= 461168601842738.8 THEN (avg(sqrt(sq))) ELSE floor((avg(sqrt(sq))) * 10000.0 + 0.5) / 10000.0 END) AS avg_dist
            FROM sq GROUP BY 1),
    norms AS (SELECT cluster, (CASE WHEN isnan(CAST((sqrt(sum(m * m))) AS DOUBLE)) OR abs(CAST((sqrt(sum(m * m))) AS DOUBLE)) >= 461168601842738.8 THEN (sqrt(sum(m * m))) ELSE floor((sqrt(sum(m * m))) * 10000.0 + 0.5) / 10000.0 END) AS centroid_norm
              FROM cent GROUP BY 1)
    SELECT cluster, n_members, centroid_norm, avg_dist
    FROM per JOIN norms USING (cluster)
    """

ORACLES["tfidf_top_terms"] = f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               (CASE WHEN isnan(CAST((tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0)) AS DOUBLE)) OR abs(CAST((tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0)) AS DOUBLE)) >= 4611686018427.388 THEN (tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0)) ELSE floor((tf.tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0)) * 1000000.0 + 0.5) / 1000000.0 END) AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf,
           row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
    FROM scored
    QUALIFY rank <= 5
    """

ORACLES["chunk_dedup_occurrences"] = """
    WITH t AS (
        SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS toks FROM documents
    ), s AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, greatest(len(toks) - 16, 1), 48)) AS start
        FROM t
    ), chunks AS (
        SELECT doc_id, CAST((start - 1) / 48 AS INT) AS chunk_idx,
               md5(array_to_string(list_slice(toks, start, start + 63), ' ')) AS fp
        FROM s
    ), w AS (
        SELECT doc_id, chunk_idx,
               row_number()  OVER (PARTITION BY fp ORDER BY doc_id, chunk_idx) AS rn,
               first_value(doc_id)    OVER (PARTITION BY fp ORDER BY doc_id, chunk_idx) AS surv_doc,
               first_value(chunk_idx) OVER (PARTITION BY fp ORDER BY doc_id, chunk_idx) AS surv_idx
        FROM chunks
    )
    SELECT doc_id, chunk_idx, surv_doc, surv_idx FROM w WHERE rn > 1
    """

ORACLES["streaming_merge_upsert"] = """
    SELECT event_id, ts, user_id, event_type, value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id) AS rn
          FROM events)
    WHERE rn = 1
    """

ORACLES["keyword_search_topk"] = f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    postings AS (
        SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN ('window', 'join', 'merge') GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
        SELECT p.doc_id,
               count(DISTINCT p.term) AS nt,
               (CASE WHEN isnan(CAST((sum(p.tf * (ln((n.n + 1.0) / (d.df + 1.0)) + 1.0))) AS DOUBLE)) OR abs(CAST((sum(p.tf * (ln((n.n + 1.0) / (d.df + 1.0)) + 1.0))) AS DOUBLE)) >= 4611686018427.388 THEN (sum(p.tf * (ln((n.n + 1.0) / (d.df + 1.0)) + 1.0))) ELSE floor((sum(p.tf * (ln((n.n + 1.0) / (d.df + 1.0)) + 1.0))) * 1000000.0 + 0.5) / 1000000.0 END) AS score
        FROM postings p JOIN dfreq d USING (term) CROSS JOIN n
        GROUP BY p.doc_id
    )
    SELECT doc_id, score,
           row_number() OVER (ORDER BY score DESC, doc_id) AS rank
    FROM scored WHERE nt = 3
    ORDER BY score DESC, doc_id LIMIT 10
    """

ORACLES["event_funnel"] = """
    WITH s AS (
        SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
        FROM events GROUP BY user_id
    ),
    v AS (
        SELECT e.user_id, min(e.ts) AS t_view
        FROM events e JOIN s ON s.user_id = e.user_id
        WHERE e.event_type = 'view' AND e.ts > s.t_signup
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > v.t_view
        GROUP BY e.user_id
    )
    SELECT 'signup' AS stage, count(t_signup) AS n_users FROM s
    UNION ALL SELECT 'view_after_signup', count(*) FROM v
    UNION ALL SELECT 'purchase_after_view', count(*) FROM p
    """

ORACLES["cohort_retention"] = """
    WITH first_seen AS (
        SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.week) / 7 AS INT) AS week_offset,
           count(*) AS n_active
    FROM activity a JOIN first_seen f USING (user_id)
    GROUP BY 1, 2
    """

ORACLES["sql_api_mart_summary"] = """
    SELECT CAST(date_trunc('year', CAST(ts AS DATE)) AS TIMESTAMP) AS year,
           (CASE WHEN isnan(CAST((avg(value)) AS DOUBLE)) OR abs(CAST((avg(value)) AS DOUBLE)) >= 4611686018427.388 THEN (avg(value)) ELSE floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 END) AS avg_gdp
    FROM events
    GROUP BY 1
    """

ORACLES["table_diff_reconciliation"] = """
    WITH a AS (SELECT event_id, event_type FROM events),
    b AS (
        SELECT event_id, event_type FROM events WHERE event_type <> 'error'
        UNION ALL
        SELECT event_id, event_type FROM events WHERE event_type = 'signup'
    ),
    ca AS (SELECT event_id, event_type, count(*) AS na FROM a GROUP BY 1, 2),
    cb AS (SELECT event_id, event_type, count(*) AS nb FROM b GROUP BY 1, 2),
    j AS (
        SELECT coalesce(ca.event_id, cb.event_id) AS event_id,
               coalesce(ca.event_type, cb.event_type) AS event_type,
               coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
        FROM ca FULL OUTER JOIN cb USING (event_id, event_type)
        WHERE coalesce(na, 0) <> coalesce(nb, 0)
    )
    SELECT 'a_only' AS side, event_id, event_type, na - nb AS n_copies FROM j WHERE na > nb
    UNION ALL
    SELECT 'b_only' AS side, event_id, event_type, nb - na AS n_copies FROM j WHERE nb > na
    """

ORACLES["scd2_user_state_history"] = """
    WITH o AS (
        SELECT user_id, event_type, ts,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev,
               lag(ts)         OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        FROM events
    ),
    starts AS (
        SELECT user_id, event_type, ts FROM o
        WHERE prev_ts IS NULL OR NOT (event_type IS NOT DISTINCT FROM prev)
    )
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
    FROM starts
    """

ORACLES["event_type_week_cube"] = """
    SELECT event_type, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
           count(*) AS n_events, (CASE WHEN isnan(CAST((sum(value)) AS DOUBLE)) OR abs(CAST((sum(value)) AS DOUBLE)) >= 461168601842738.8 THEN (sum(value)) ELSE floor((sum(value)) * 10000.0 + 0.5) / 10000.0 END) AS total_value
    FROM events
    GROUP BY CUBE (event_type, CAST(date_trunc('week', ts) AS TIMESTAMP))
    """

ORACLES["daily_revenue_gapfilled"] = """
    WITH bounds AS (
        SELECT CAST(min(date_trunc('day', ts)) AS DATE) AS d0,
               CAST(max(date_trunc('day', ts)) AS DATE) AS d1
        FROM events WHERE event_type = 'purchase'
    ),
    spine AS (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM bounds
    ),
    daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               (CASE WHEN isnan(CAST((sum(value)) AS DOUBLE)) OR abs(CAST((sum(value)) AS DOUBLE)) >= 461168601842738.8 THEN (sum(value)) ELSE floor((sum(value)) * 10000.0 + 0.5) / 10000.0 END) AS revenue
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT s.day, coalesce(d.revenue, 0.0) AS revenue,
           CASE WHEN d.day IS NULL THEN 1 ELSE 0 END AS was_gap
    FROM spine s LEFT JOIN daily d USING (day)
    """

ORACLES["attribution_window_join"] = """
    WITH purchases AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), views AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'view'
    ), matched AS (
        SELECT p.event_id, p.user_id,
               count(v.ts) AS n_views_1h,
               (CASE WHEN isnan(CAST((coalesce(sum(v.value), 0)) AS DOUBLE)) OR abs(CAST((coalesce(sum(v.value), 0)) AS DOUBLE)) >= 461168601842738.8 THEN (coalesce(sum(v.value), 0)) ELSE floor((coalesce(sum(v.value), 0)) * 10000.0 + 0.5) / 10000.0 END) AS view_value_1h
        FROM purchases p
        LEFT JOIN views v
          ON v.user_id = p.user_id
         AND v.ts >= p.ts - INTERVAL 1 HOUR
         AND v.ts < p.ts
        GROUP BY 1, 2
    )
    SELECT * FROM matched
    """

ORACLES["skew_salted_event_rollup"] = """
    WITH dim AS (
        SELECT DISTINCT event_type, upper(event_type) AS category FROM events
    )
    SELECT d.category,
           count(*) AS n_events,
           (CASE WHEN isnan(CAST((sum(e.value)) AS DOUBLE)) OR abs(CAST((sum(e.value)) AS DOUBLE)) >= 461168601842738.8 THEN (sum(e.value)) ELSE floor((sum(e.value)) * 10000.0 + 0.5) / 10000.0 END) AS total_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY 1
    """

ORACLES["corpus_shuffle_shard"] = f"""
    SELECT doc_id, shard, shuffle_key,
           CAST(row_number() OVER (PARTITION BY shard
                                   ORDER BY shuffle_key, doc_id) AS BIGINT)
               AS position
    FROM (SELECT doc_id,
                 CAST({_b256("shuffle")} AS INT) % 16 AS shard,
                 {_md5_key("shuffle")} AS shuffle_key
          FROM documents)
    """

ORACLES["sequence_packing"] = f"""
    WITH toks AS (
        SELECT doc_id,
               CAST({_b256("pack")} AS INT) % 16 AS shard,
               {_md5_key("pack")} AS k,
               CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ), packed AS (
        SELECT shard, doc_id, n_tokens,
               CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY k, doc_id
                                               ROWS UNBOUNDED PRECEDING) - n_tokens)
                          / 512.0) AS BIGINT) AS pack_id
        FROM toks
    )
    SELECT shard, pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
    FROM packed
    GROUP BY 1, 2
    """

ORACLES["semantic_dedup"] = f"""
    WITH a AS (SELECT * FROM '{_AUX_DIR}/semdedup_assign/*.parquet'),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dropped AS (
        SELECT DISTINCT hi.vec_id
        FROM a lo JOIN a hi ON lo.cluster = hi.cluster AND lo.vec_id < hi.vec_id
        JOIN e el ON el.vec_id = lo.vec_id
        JOIN e eh ON eh.vec_id = hi.vec_id
        WHERE (CASE WHEN isnan(CAST((list_dot_product(el.v, eh.v)
                    / nullif(sqrt(list_dot_product(el.v, el.v))
                             * sqrt(list_dot_product(eh.v, eh.v)), 0)) AS DOUBLE)) OR abs(CAST((list_dot_product(el.v, eh.v)
                    / nullif(sqrt(list_dot_product(el.v, el.v))
                             * sqrt(list_dot_product(eh.v, eh.v)), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (list_dot_product(el.v, eh.v)
                    / nullif(sqrt(list_dot_product(el.v, el.v))
                             * sqrt(list_dot_product(eh.v, eh.v)), 0)) ELSE floor((list_dot_product(el.v, eh.v)
                    / nullif(sqrt(list_dot_product(el.v, el.v))
                             * sqrt(list_dot_product(eh.v, eh.v)), 0)) * 1000000.0 + 0.5) / 1000000.0 END) >= 0.4
    )
    SELECT a.vec_id, a.cluster,
           CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS is_dropped
    FROM a LEFT JOIN dropped d ON a.vec_id = d.vec_id
    """

ORACLES["embedding_inference_scores"] = """
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
        SELECT vec_id, label,
               (CASE WHEN isnan(CAST((1.0 / (1.0 + exp(-list_dot_product(
                   v,
                   list_transform(range(0, len(v)), j -> ((j % 7) - 3) / 10.0)
               )))) AS DOUBLE)) OR abs(CAST((1.0 / (1.0 + exp(-list_dot_product(
                   v,
                   list_transform(range(0, len(v)), j -> ((j % 7) - 3) / 10.0)
               )))) AS DOUBLE)) >= 4611686018427.388 THEN (1.0 / (1.0 + exp(-list_dot_product(
                   v,
                   list_transform(range(0, len(v)), j -> ((j % 7) - 3) / 10.0)
               )))) ELSE floor((1.0 / (1.0 + exp(-list_dot_product(
                   v,
                   list_transform(range(0, len(v)), j -> ((j % 7) - 3) / 10.0)
               )))) * 1000000.0 + 0.5) / 1000000.0 END) AS score
        FROM e
    )
    SELECT vec_id, label, score FROM scored WHERE score >= 0.5
    """

ORACLES["streaming_sessionize_events"] = """
    WITH o AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
        SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess
        FROM o
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           user_id,
           count(*) AS n_events,
           (CASE WHEN isnan(CAST((sum(value)) AS DOUBLE)) OR abs(CAST((sum(value)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value)) ELSE floor((sum(value)) * 1000000.0 + 0.5) / 1000000.0 END) AS total_value
    FROM s
    GROUP BY user_id, sess
    """

ORACLES["streaming_watermark_late_drop"] = """
    WITH c AS (SELECT max(epoch_us(ts)) - 7 * 86400000000 AS cut_us
               FROM events),
         pre AS (SELECT e.* FROM events e
                 WHERE epoch_us(ts) < (SELECT cut_us FROM c)),
         b1 AS (SELECT * FROM pre WHERE event_id % 7 >= 2),
         spacer AS (SELECT * FROM pre WHERE event_id % 7 = 1),
         late AS (SELECT * FROM pre WHERE event_id % 7 = 0),
         wm1 AS (SELECT max(ts) - INTERVAL 7 DAY AS w FROM b1),
         wmf AS (SELECT max(ts) - INTERVAL 7 DAY AS w FROM events),
         accepted AS (
           SELECT * FROM b1
           UNION ALL SELECT * FROM spacer
           UNION ALL
           SELECT late.* FROM late
           WHERE date_trunc('day', ts) + INTERVAL 1 DAY > (SELECT w FROM wm1)
           UNION ALL
           SELECT e.* FROM events e
           WHERE epoch_us(ts) >= (SELECT cut_us FROM c)
         )
    SELECT date_trunc('day', ts) AS window_start, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           (CASE WHEN isnan(CAST((sum(value)) AS DOUBLE)) OR abs(CAST((sum(value)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value)) ELSE floor((sum(value)) * 1000000.0 + 0.5) / 1000000.0 END) AS total_value
    FROM accepted
    GROUP BY 1, 2
    HAVING date_trunc('day', ts) + INTERVAL 1 DAY <= (SELECT w FROM wmf)
    """

ORACLES["stateful_session_timeout"] = """
    WITH o AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS is_new
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
        SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess FROM o
    ), g AS (
        SELECT user_id, sess,
               min(ts) AS session_start, max(ts) AS last_ts,
               CAST(count(*) AS BIGINT) AS n_events,
               (CASE WHEN isnan(CAST((sum(value)) AS DOUBLE)) OR abs(CAST((sum(value)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value)) ELSE floor((sum(value)) * 1000000.0 + 0.5) / 1000000.0 END) AS total_value
        FROM s GROUP BY user_id, sess
    ), sess AS (
        SELECT *, max(sess) OVER (PARTITION BY user_id) AS last_sess FROM g
    ), wmf AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events)
    SELECT user_id, session_start, last_ts + INTERVAL 30 MINUTE AS session_end,
           n_events, total_value
    FROM sess
    WHERE NOT (sess = last_sess AND last_ts + INTERVAL 30 MINUTE > (SELECT w FROM wmf))
    """

ORACLES["ingest_pages_datasource"] = """
    SELECT series_id,
           CAST(d AS DATE) AS observation_date,
           v AS value_raw,
           TRY_CAST(v AS DOUBLE) AS value,
           page
    FROM (VALUES
        ('GDP', '2020-01-01', '21481.367', 0),
        ('GDP', '2020-04-01', '19477.444', 0),
        ('GDP', '2020-07-01', '.',         0),
        ('GDP', '2020-10-01', '21494.731', 1),
        ('GDP', '2021-01-01', '22313.85',  1),
        ('GDP', '2021-04-01', '23046.934', 1),
        ('GDP', '2021-07-01', '23550.42',  2),
        ('GDP', '2021-10-01', '.',         2),
        ('GDP', '2022-01-01', '24740.48',  2),
        ('GDP', '2022-04-01', '25248.476', 3),
        ('GDP', '2022-07-01', '25723.941', 3),
        ('GDP', '2022-10-01', '26137.992', 3)
    ) AS t(series_id, d, v, page)
    """

ORACLES["variant_event_payloads"] = """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           (CASE WHEN isnan(CAST((sum(value)) AS DOUBLE)) OR abs(CAST((sum(value)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value)) ELSE floor((sum(value)) * 1000000.0 + 0.5) / 1000000.0 END) AS total_value,
           CAST(max(len(CAST(event_type AS VARCHAR)) + 2) AS INT) AS max_tag_len
    FROM events
    GROUP BY event_type
    """

ORACLES["ann_ivfpq_topk"] = f"""
    WITH ix AS (SELECT * FROM '{_AUX_DIR}/pq_index/*.parquet'),
    pr AS (SELECT * FROM '{_AUX_DIR}/ivfpq_probes/*.parquet'),
    lut AS (SELECT * FROM '{_AUX_DIR}/pq_luts/*.parquet'),
    adc AS (
        SELECT pr.query_id, ix.id AS neighbor_id,
               (CASE WHEN isnan(CAST((sum(lut.d2)) AS DOUBLE)) OR abs(CAST((sum(lut.d2)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(lut.d2)) ELSE floor((sum(lut.d2)) * 1000000.0 + 0.5) / 1000000.0 END) AS adc_dist
        FROM ix
        JOIN pr USING (cell)
        JOIN lut ON lut.query_id = pr.query_id
               AND lut.m = ix.m AND lut.code = ix.code
        WHERE ix.id <> pr.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_dist, neighbor_id) AS rank
    FROM adc
    QUALIFY rank <= 10
    """

ORACLES["heavy_hitters_cms"] = f"""
    WITH cells AS (SELECT * FROM '{_AUX_DIR}/cms_placements/*.parquet'),
    tc AS (
        SELECT token, CAST(count(*) AS BIGINT) AS exact_count
        FROM (SELECT unnest({_TOKS}) AS token FROM documents)
        GROUP BY token
    ),
    cellcnt AS (
        SELECT d, col, sum(exact_count) AS cell_cnt
        FROM tc JOIN cells USING (token) GROUP BY d, col
    ),
    est AS (
        SELECT token, CAST(min(cell_cnt) AS BIGINT) AS est_count
        FROM cells JOIN cellcnt USING (d, col) GROUP BY token
    ),
    tot AS (SELECT sum(exact_count) AS t FROM tc)
    SELECT e.token, e.est_count, tc.exact_count
    FROM est e JOIN tc USING (token), tot
    WHERE e.est_count >= tot.t / 50.0
    """

ORACLES["event_grouping_sets"] = """
    SELECT coalesce(event_type, 'ALL') AS event_type,
           coalesce(CAST(dow AS VARCHAR), 'ALL') AS dow,
           CAST(count(*) AS BIGINT) AS n_events,
           (CASE WHEN isnan(CAST((sum(value)) AS DOUBLE)) OR abs(CAST((sum(value)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value)) ELSE floor((sum(value)) * 1000000.0 + 0.5) / 1000000.0 END) AS total_value
    FROM (SELECT event_type, CAST(dayofweek(ts) AS INT) AS dow, value FROM events)
    GROUP BY GROUPING SETS ((event_type, dow), (event_type), (dow), ())
    """

ORACLES["lineitem_unpivot_metrics"] = """
    SELECT metric,
           CAST(count(*) AS BIGINT) AS n,
           (CASE WHEN isnan(CAST((avg(val)) AS DOUBLE)) OR abs(CAST((avg(val)) AS DOUBLE)) >= 4611686018427.388 THEN (avg(val)) ELSE floor((avg(val)) * 1000000.0 + 0.5) / 1000000.0 END) AS avg_val,
           (CASE WHEN isnan(CAST((min(val)) AS DOUBLE)) OR abs(CAST((min(val)) AS DOUBLE)) >= 4611686018427.388 THEN (min(val)) ELSE floor((min(val)) * 1000000.0 + 0.5) / 1000000.0 END) AS min_val,
           (CASE WHEN isnan(CAST((max(val)) AS DOUBLE)) OR abs(CAST((max(val)) AS DOUBLE)) >= 4611686018427.388 THEN (max(val)) ELSE floor((max(val)) * 1000000.0 + 0.5) / 1000000.0 END) AS max_val
    FROM (
        SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        UNION ALL SELECT 'l_tax', l_tax FROM lineitem
    )
    GROUP BY metric
    """

ORACLES["corpus_upsample_epochs"] = f"""
    WITH w AS (
        SELECT * FROM (VALUES ('en', 2, 128), ('de', 1, 0), ('es', 1, 128),
                              ('fr', 0, 128), ('zh', 0, 64)) t(lang, base, thresh)
    ),
    n AS (
        SELECT doc_id, d.lang,
               base + CASE WHEN {_b256("upsample")} < thresh THEN 1 ELSE 0 END AS n_copies
        FROM documents d JOIN w USING (lang)
    )
    SELECT doc_id, lang, CAST(unnest(generate_series(1, n_copies)) AS INT) AS copy_idx
    FROM n WHERE n_copies > 0
    """

ORACLES["quality_percentile_filter"] = """
    WITH r AS (
        SELECT doc_id, lang, n_chars,
               (CASE WHEN isnan(CAST((percent_rank() OVER (PARTITION BY lang
                                          ORDER BY n_chars, doc_id)) AS DOUBLE)) OR abs(CAST((percent_rank() OVER (PARTITION BY lang
                                          ORDER BY n_chars, doc_id)) AS DOUBLE)) >= 4611686018427.388 THEN (percent_rank() OVER (PARTITION BY lang
                                          ORDER BY n_chars, doc_id)) ELSE floor((percent_rank() OVER (PARTITION BY lang
                                          ORDER BY n_chars, doc_id)) * 1000000.0 + 0.5) / 1000000.0 END) AS pr
        FROM documents
    )
    SELECT doc_id, lang, n_chars, pr FROM r WHERE pr >= 0.5
    """

ORACLES["stratified_reservoir_sample"] = f"""
    WITH r AS (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY {_md5_key("reservoir")}, doc_id) AS rn
        FROM documents
    )
    SELECT doc_id, lang, CAST(rn AS INT) AS sample_rank FROM r WHERE rn <= 20
    """

ORACLES["profile_documents_table"] = """
    SELECT 'doc_id' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(doc_id) AS BIGINT) AS n_non_null,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_val,
           CAST(max(doc_id) AS VARCHAR) AS max_val
    FROM documents
    UNION ALL
    SELECT 'lang', count(*), count(lang), count(DISTINCT lang),
           CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR) FROM documents
    UNION ALL
    SELECT 'source', count(*), count(source), count(DISTINCT source),
           CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR) FROM documents
    UNION ALL
    SELECT 'n_chars', count(*), count(n_chars), count(DISTINCT n_chars),
           CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM documents
    """

ORACLES["streaming_heavy_hitters"] = f"""
    WITH cells AS (SELECT * FROM '{_AUX_DIR}/cms_placements_stream/*.parquet'),
    tc AS (
        SELECT token, CAST(count(*) AS BIGINT) AS exact_count
        FROM (SELECT unnest({_TOKS}) AS token FROM documents)
        GROUP BY token
    ),
    cellcnt AS (
        SELECT d, col, sum(exact_count) AS cell_cnt
        FROM tc JOIN cells USING (token) GROUP BY d, col
    ),
    est AS (
        SELECT token, CAST(min(cell_cnt) AS BIGINT) AS est_count
        FROM cells JOIN cellcnt USING (d, col) GROUP BY token
    ),
    tot AS (SELECT sum(exact_count) AS t FROM tc)
    SELECT e.token, e.est_count, tc.exact_count
    FROM est e JOIN tc USING (token), tot
    WHERE e.est_count >= tot.t / 50.0
    """

ORACLES["label_time_to_next_purchase"] = """
    WITH p AS (
        SELECT user_id, ts, min(event_id) AS next_event_id
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT v.user_id, v.event_id, v.ts,
           p.ts AS ts_r, p.next_event_id AS next_event_id_r,
           epoch_us(p.ts) - epoch_us(v.ts) AS usecs_to_purchase
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    ASOF LEFT JOIN p ON v.user_id = p.user_id AND p.ts > v.ts
    """

ORACLES["rolling_7day_distinct_users"] = """
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    days AS (SELECT DISTINCT day FROM ud),
    cover AS (
        SELECT user_id, CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
                                                    INTERVAL 1 DAY)) AS DATE) AS day
        FROM ud
    )
    SELECT d.day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS n_users_7d
    FROM cover c JOIN days d USING (day)
    GROUP BY d.day
    """

ORACLES["per_lang_token_length_regression"] = f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           (CASE WHEN isnan(CAST((regr_slope(n_toks, n_chars)) AS DOUBLE)) OR abs(CAST((regr_slope(n_toks, n_chars)) AS DOUBLE)) >= 4611686018427.388 THEN (regr_slope(n_toks, n_chars)) ELSE floor((regr_slope(n_toks, n_chars)) * 1000000.0 + 0.5) / 1000000.0 END) AS slope,
           (CASE WHEN isnan(CAST((regr_intercept(n_toks, n_chars)) AS DOUBLE)) OR abs(CAST((regr_intercept(n_toks, n_chars)) AS DOUBLE)) >= 4611686018427.388 THEN (regr_intercept(n_toks, n_chars)) ELSE floor((regr_intercept(n_toks, n_chars)) * 1000000.0 + 0.5) / 1000000.0 END) AS intercept,
           (CASE WHEN isnan(CAST((regr_r2(n_toks, n_chars)) AS DOUBLE)) OR abs(CAST((regr_r2(n_toks, n_chars)) AS DOUBLE)) >= 4611686018427.388 THEN (regr_r2(n_toks, n_chars)) ELSE floor((regr_r2(n_toks, n_chars)) * 1000000.0 + 0.5) / 1000000.0 END) AS r2
    FROM (SELECT lang, CAST(n_chars AS DOUBLE) AS n_chars,
                 CAST(len({_TOKS}) AS DOUBLE) AS n_toks
          FROM documents)
    GROUP BY lang
    """

ORACLES["mixture_rebalance_to_target"] = f"""
    WITH tgt AS (
        SELECT * FROM (VALUES ('en', 0.40), ('de', 0.15), ('es', 0.15),
                              ('fr', 0.15), ('zh', 0.15)) t(lang, target_share)
    ),
    cur AS (
        SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS chars FROM documents GROUP BY lang
    ),
    tot AS (SELECT sum(chars) AS t FROM cur),
    w AS (
        SELECT c.lang, tgt.target_share,
               c.chars / tot.t AS before_share,
               tgt.target_share / (c.chars / tot.t) AS wt
        FROM cur c JOIN tgt USING (lang), tot
    ),
    wq AS (
        SELECT lang, target_share, before_share,
               CAST(floor(wt) AS BIGINT) AS base,
               CAST(floor((wt - floor(wt)) * 256 + 0.5) AS BIGINT) AS thresh
        FROM w
    ),
    per_doc AS (
        SELECT d.lang, wq.target_share, wq.before_share,
               d.n_chars * (wq.base + CASE WHEN {_b256("rebalance")} < wq.thresh
                                           THEN 1 ELSE 0 END) AS eff_chars
        FROM documents d JOIN wq USING (lang)
    ),
    after_tot AS (SELECT sum(eff_chars) AS t FROM per_doc)
    SELECT p.lang,
           (CASE WHEN isnan(CAST((any_value(p.before_share)) AS DOUBLE)) OR abs(CAST((any_value(p.before_share)) AS DOUBLE)) >= 4611686018427.388 THEN (any_value(p.before_share)) ELSE floor((any_value(p.before_share)) * 1000000.0 + 0.5) / 1000000.0 END) AS before_share,
           any_value(p.target_share) AS target_share,
           (CASE WHEN isnan(CAST((sum(p.eff_chars) / any_value(a.t)) AS DOUBLE)) OR abs(CAST((sum(p.eff_chars) / any_value(a.t)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(p.eff_chars) / any_value(a.t)) ELSE floor((sum(p.eff_chars) / any_value(a.t)) * 1000000.0 + 0.5) / 1000000.0 END) AS after_share
    FROM per_doc p, after_tot a
    GROUP BY p.lang
    """

ORACLES["length_bucketed_batching"] = f"""
    WITH d AS (
        SELECT doc_id, n_chars,
               CAST({_b256("batchshard")} AS INT) % 8 AS shard,
               {_md5_key("batcharrival")} AS arrival
        FROM documents
    ),
    arr AS (
        SELECT shard, n_chars,
               CAST(floor((row_number() OVER (PARTITION BY shard
                                              ORDER BY arrival, doc_id) - 1) / 32)
                    AS BIGINT) AS batch_id
        FROM d
    ),
    srt AS (
        SELECT shard, n_chars,
               CAST(floor((row_number() OVER (PARTITION BY shard
                                              ORDER BY n_chars, doc_id) - 1) / 32)
                    AS BIGINT) AS batch_id
        FROM d
    ),
    wa AS (
        SELECT shard, CAST(sum(mx - n_chars) AS BIGINT) AS waste FROM (
            SELECT shard, n_chars, max(n_chars) OVER (PARTITION BY shard, batch_id) AS mx
            FROM arr) GROUP BY shard
    ),
    ws AS (
        SELECT shard, CAST(sum(mx - n_chars) AS BIGINT) AS waste FROM (
            SELECT shard, n_chars, max(n_chars) OVER (PARTITION BY shard, batch_id) AS mx
            FROM srt) GROUP BY shard
    )
    SELECT wa.shard, wa.waste AS padding_arrival, ws.waste AS padding_sorted
    FROM wa JOIN ws USING (shard)
    """

ORACLES["user_value_ema"] = """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           (CASE WHEN isnan(CAST((list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                             (acc, x) -> 0.2 * x + 0.8 * acc)) AS DOUBLE)) OR abs(CAST((list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                             (acc, x) -> 0.2 * x + 0.8 * acc)) AS DOUBLE)) >= 4611686018427.388 THEN (list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                             (acc, x) -> 0.2 * x + 0.8 * acc)) ELSE floor((list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                             (acc, x) -> 0.2 * x + 0.8 * acc)) * 1000000.0 + 0.5) / 1000000.0 END) AS ema_final
    FROM events
    GROUP BY user_id
    """

ORACLES["rollup_cascade_monthly"] = """
    SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           (CASE WHEN isnan(CAST((sum(value)) AS DOUBLE)) OR abs(CAST((sum(value)) AS DOUBLE)) >= 461168601842738.8 THEN (sum(value)) ELSE floor((sum(value)) * 10000.0 + 0.5) / 10000.0 END) AS total_value
    FROM events
    GROUP BY 1, 2
    """

ORACLES["bitmap_distinct_rollup"] = """
    SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
           event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events
    GROUP BY 1, 2
    """

ORACLES["hll_distinct_rollup"] = f"""
    WITH est AS (SELECT * FROM '{_AUX_DIR}/hll_monthly_est/*.parquet'),
    exact AS (
        SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
               event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_exact
        FROM events
        GROUP BY 1, 2
    )
    SELECT e.month, e.event_type, e.n_distinct_est, x.n_distinct_exact,
           CAST(abs(CAST(e.n_distinct_est AS DOUBLE) - x.n_distinct_exact)
                / x.n_distinct_exact <= 0.05 AS BOOLEAN) AS within_5pct
    FROM est e JOIN exact x USING (month, event_type)
    """

ORACLES["streaming_view_purchase_join"] = """
    SELECT v.user_id AS user_id, v.ts AS view_ts, p.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = v.user_id
     AND p.ts > v.ts
     AND p.ts <= v.ts + INTERVAL 1 DAY
    """

ORACLES["rolling_zscore_anomalies"] = """
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               (CASE WHEN isnan(CAST((sum(value)) AS DOUBLE)) OR abs(CAST((sum(value)) AS DOUBLE)) >= 461168601842738.8 THEN (sum(value)) ELSE floor((sum(value)) * 10000.0 + 0.5) / 10000.0 END) AS value
        FROM events GROUP BY 1, 2
    ),
    w AS (
        SELECT event_type, day, value,
               avg(value)         OVER win AS mu,
               stddev_samp(value) OVER win AS sigma,
               count(*)           OVER win AS n_prior
        FROM daily
        WINDOW win AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, day, value,
           CASE WHEN n_prior >= 7 AND sigma > 0
                THEN (CASE WHEN isnan(CAST(((value - mu) / sigma) AS DOUBLE)) OR abs(CAST(((value - mu) / sigma) AS DOUBLE)) >= 461168601842738.8 THEN ((value - mu) / sigma) ELSE floor(((value - mu) / sigma) * 10000.0 + 0.5) / 10000.0 END) END AS zscore,
           CAST(n_prior >= 7 AND sigma > 0
                AND abs((value - mu) / sigma) > 2.5 AS BOOLEAN) AS is_anomaly
    FROM w
    """

ORACLES["indicator_linear_interpolation"] = """
    WITH daily AS (
        -- daily mean in EXACT integer 1e-4-dollar units (floor): the
        -- float fill diverged at sf0.1 (r8 hardening)
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST((sum(CAST(round(value * 100) AS BIGINT)) * 100)
                    // count(*) AS BIGINT) AS value
        FROM events GROUP BY 1, 2
    ),
    observed AS (  -- simulated sensor dropout: day-of-month % 3 = 0 missing
        SELECT * FROM daily WHERE extract(day FROM day) % 3 <> 0
    ),
    bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
    spine AS (
        SELECT t.event_type, s.day
        FROM (SELECT DISTINCT event_type FROM daily) t
        CROSS JOIN (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
                    FROM bounds) s
    ),
    j AS (
        SELECT s.event_type, s.day, o.value,
               CASE WHEN o.value IS NOT NULL THEN s.day END AS day_known
        FROM spine s LEFT JOIN observed o USING (event_type, day)
    ),
    n AS (
        SELECT event_type, day, value,
               last_value(value IGNORE NULLS) OVER wp AS prev_v,
               last_value(day_known IGNORE NULLS) OVER wp AS prev_d,
               first_value(value IGNORE NULLS) OVER wf AS next_v,
               first_value(day_known IGNORE NULLS) OVER wf AS next_d
        FROM j
        WINDOW wp AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, day,
           (CASE WHEN isnan(CAST((CAST(CASE
               WHEN value IS NOT NULL THEN value
               WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
                   prev_v + ((next_v - prev_v) * (day - prev_d))
                           // (next_d - prev_d)
               END AS DOUBLE) / 10000.0) AS DOUBLE)) OR abs(CAST((CAST(CASE
               WHEN value IS NOT NULL THEN value
               WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
                   prev_v + ((next_v - prev_v) * (day - prev_d))
                           // (next_d - prev_d)
               END AS DOUBLE) / 10000.0) AS DOUBLE)) >= 461168601842738.8 THEN (CAST(CASE
               WHEN value IS NOT NULL THEN value
               WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
                   prev_v + ((next_v - prev_v) * (day - prev_d))
                           // (next_d - prev_d)
               END AS DOUBLE) / 10000.0) ELSE floor((CAST(CASE
               WHEN value IS NOT NULL THEN value
               WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
                   prev_v + ((next_v - prev_v) * (day - prev_d))
                           // (next_d - prev_d)
               END AS DOUBLE) / 10000.0) * 10000.0 + 0.5) / 10000.0 END) AS filled_value,
           CAST(value IS NULL
                AND prev_v IS NOT NULL AND next_v IS NOT NULL
                AS BOOLEAN) AS was_interpolated
    FROM n
    """

ORACLES["random_projection_topk"] = f"""
    WITH m AS (SELECT * FROM '{_AUX_DIR}/rp_matrix/*.parquet'),
    e AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               unnest(embedding) AS v
        FROM embeddings
    ),
    p AS (
        SELECT e.vec_id, m.j, sum(CAST(e.v AS DOUBLE) * m.w) AS p
        FROM e JOIN m ON m.i = e.i
        GROUP BY 1, 2
    ),
    nrm AS (SELECT vec_id, sqrt(sum(p * p)) AS nr FROM p GROUP BY 1),
    pairs AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, sum(a.p * b.p) AS dp
        FROM p a JOIN p b ON a.j = b.j AND a.vec_id <> b.vec_id
        WHERE a.vec_id IN (0, 1, 2, 3, 4, 5, 6, 7, 8, 9)
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               (CASE WHEN isnan(CAST((dp / nullif(na.nr * nb.nr, 0)) AS DOUBLE)) OR abs(CAST((dp / nullif(na.nr * nb.nr, 0)) AS DOUBLE)) >= 461168601842738.8 THEN (dp / nullif(na.nr * nb.nr, 0)) ELSE floor((dp / nullif(na.nr * nb.nr, 0)) * 10000.0 + 0.5) / 10000.0 END) AS score
        FROM pairs
        JOIN nrm na ON na.vec_id = query_id
        JOIN nrm nb ON nb.vec_id = neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, score,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id) AS INT) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 5
    """

ORACLES["histogram_quantile_rollup"] = """
    WITH d AS (
        SELECT CAST(date_trunc('month', ts) AS DATE) AS grain, event_type,
               CAST(least(greatest(floor(value / 4.0), 0), 255) AS INT) AS bin,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2, 3
    ),
    cum AS (
        SELECT grain, event_type, bin, cnt,
               sum(cnt) OVER (PARTITION BY grain, event_type ORDER BY bin) AS cum,
               sum(cnt) OVER (PARTITION BY grain, event_type) AS total
        FROM d
    )
    SELECT grain, event_type, p,
           (CASE WHEN isnan(CAST((bin * 4.0 + 4.0 * (p * total - (cum - cnt)) / cnt) AS DOUBLE)) OR abs(CAST((bin * 4.0 + 4.0 * (p * total - (cum - cnt)) / cnt) AS DOUBLE)) >= 461168601842738.8 THEN (bin * 4.0 + 4.0 * (p * total - (cum - cnt)) / cnt) ELSE floor((bin * 4.0 + 4.0 * (p * total - (cum - cnt)) / cnt) * 10000.0 + 0.5) / 10000.0 END) AS est
    FROM cum CROSS JOIN (VALUES (0.5), (0.9), (0.99)) pp(p)
    WHERE cum >= p * total AND cum - cnt < p * total
    """

ORACLES["cdc_changelog_apply"] = """
    WITH c AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               value
        FROM events
    ),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id) AS rn
        FROM c
    )
    SELECT user_id, ts AS updated_at, (CASE WHEN isnan(CAST((value) AS DOUBLE)) OR abs(CAST((value) AS DOUBLE)) >= 4611686018427.388 THEN (value) ELSE floor((value) * 1000000.0 + 0.5) / 1000000.0 END) AS value
    FROM r WHERE rn = 1 AND op = 'U'
    """

ORACLES["corpus_training_pipeline"] = f"""
    WITH scored AS (
        SELECT doc_id, lang, text, {_QUALITY_SQL} AS quality,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents
    ),
    deduped AS (
        SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM scored WHERE quality >= 0.3
    ),
    surv AS (
        SELECT doc_id, lang, text, quality, {_b256("decon")} AS bdecon
        FROM deduped WHERE rn = 1
    ),
    t AS (SELECT doc_id, bdecon, {_TOKS} AS toks FROM surv),
    grams AS (
        SELECT doc_id, bdecon,
               unnest(list_transform(generate_series(1, len(toks)-3),
                                     i -> array_to_string(toks[i:i+3], ' '))) AS gram
        FROM t WHERE len(toks) >= 4
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE bdecon < 13),
    contaminated AS (
        SELECT DISTINCT doc_id FROM grams
        WHERE bdecon >= 13 AND gram IN (SELECT gram FROM bench)
    ),
    clean AS (
        SELECT s.*, len({_TOKS}) AS n_toks FROM surv s
        WHERE bdecon >= 13
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    sp AS (
        SELECT *, CASE WHEN {_b256("split")} < 0.8 * 256.0 THEN 'train'
                       WHEN {_b256("split")} < 0.9 * 256.0 THEN 'val'
                       ELSE 'test' END AS split
        FROM clean
    )
    SELECT split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           (CASE WHEN isnan(CAST((sum(CAST(round(quality * 10000) AS BIGINT))
                 / (10000.0 * count(*))) AS DOUBLE)) OR abs(CAST((sum(CAST(round(quality * 10000) AS BIGINT))
                 / (10000.0 * count(*))) AS DOUBLE)) >= 4611686018427.388 THEN (sum(CAST(round(quality * 10000) AS BIGINT))
                 / (10000.0 * count(*))) ELSE floor((sum(CAST(round(quality * 10000) AS BIGINT))
                 / (10000.0 * count(*))) * 1000000.0 + 0.5) / 1000000.0 END) AS avg_quality
    FROM sp GROUP BY 1, 2
    """

ORACLES["entity_resolution_blocked"] = """
    WITH corrupted AS (
        SELECT c_custkey AS query_id,
               concat(substr(c_name, 1, 9 + (c_custkey % 4)),
                      substr(c_name, 11 + (c_custkey % 4), 18)) AS q_name
        FROM customer
    ),
    qk AS (
        SELECT query_id, q_name, 'tail' AS blk, right(q_name, 4) AS key FROM corrupted
    ),
    rk AS (
        SELECT c_custkey AS ref_id, c_name AS r_name, 'tail' AS blk,
               right(c_name, 4) AS key FROM customer
    ),
    cand AS (
        SELECT DISTINCT q.query_id, q.q_name, r.ref_id, r.r_name
        FROM qk q JOIN rk r ON q.blk = r.blk AND q.key = r.key
    ),
    scored AS (
        SELECT query_id, ref_id, levenshtein(q_name, r_name) AS distance
        FROM cand
    ),
    ranked AS (
        SELECT query_id, ref_id AS matched_id, distance,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY distance, ref_id) AS rn
        FROM scored WHERE distance <= 2
    )
    SELECT query_id, matched_id, distance,
           CAST(query_id = matched_id AS BOOLEAN) AS correct
    FROM ranked WHERE rn = 1
    """

ORACLES["event_transition_matrix"] = """
    WITH s AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    )
    SELECT event_type AS cur, next_type AS nxt,
           CAST(count(*) AS BIGINT) AS n,
           (CASE WHEN isnan(CAST((count(*) / sum(count(*)) OVER (PARTITION BY event_type)) AS DOUBLE)) OR abs(CAST((count(*) / sum(count(*)) OVER (PARTITION BY event_type)) AS DOUBLE)) >= 4611686018427.388 THEN (count(*) / sum(count(*)) OVER (PARTITION BY event_type)) ELSE floor((count(*) / sum(count(*)) OVER (PARTITION BY event_type)) * 1000000.0 + 0.5) / 1000000.0 END) AS p
    FROM s WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """

ORACLES["copurchase_association_rules"] = f"""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_orders FROM baskets),
    item AS (SELECT l_partkey, count(*) AS n_item FROM baskets GROUP BY 1),
    pairs AS (
        SELECT src AS item_a, dst AS item_b, n_orders AS n_ab
        FROM '{_AUX_DIR}/copurchase_pairs/*.parquet' WHERE src < dst
    )
    SELECT item_a, item_b, CAST(n_ab AS BIGINT) AS n_ab,
           (CASE WHEN isnan(CAST((n_ab / n.n_orders) AS DOUBLE)) OR abs(CAST((n_ab / n.n_orders) AS DOUBLE)) >= 4611686018427.388 THEN (n_ab / n.n_orders) ELSE floor((n_ab / n.n_orders) * 1000000.0 + 0.5) / 1000000.0 END) AS support,
           (CASE WHEN isnan(CAST((n_ab / ia.n_item) AS DOUBLE)) OR abs(CAST((n_ab / ia.n_item) AS DOUBLE)) >= 4611686018427.388 THEN (n_ab / ia.n_item) ELSE floor((n_ab / ia.n_item) * 1000000.0 + 0.5) / 1000000.0 END) AS conf_a_to_b,
           (CASE WHEN isnan(CAST((n_ab / ib.n_item) AS DOUBLE)) OR abs(CAST((n_ab / ib.n_item) AS DOUBLE)) >= 4611686018427.388 THEN (n_ab / ib.n_item) ELSE floor((n_ab / ib.n_item) * 1000000.0 + 0.5) / 1000000.0 END) AS conf_b_to_a,
           (CASE WHEN isnan(CAST((n_ab * n.n_orders / (ia.n_item * ib.n_item)) AS DOUBLE)) OR abs(CAST((n_ab * n.n_orders / (ia.n_item * ib.n_item)) AS DOUBLE)) >= 461168601842738.8 THEN (n_ab * n.n_orders / (ia.n_item * ib.n_item)) ELSE floor((n_ab * n.n_orders / (ia.n_item * ib.n_item)) * 10000.0 + 0.5) / 10000.0 END) AS lift
    FROM pairs
    JOIN item ia ON ia.l_partkey = item_a
    JOIN item ib ON ib.l_partkey = item_b
    CROSS JOIN n
    WHERE n_ab >= 2
    """

ORACLES["streaming_left_outer_interval_join"] = """
    WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    wm AS (
        SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM p))
               - INTERVAL 2 DAY AS w
    ),
    inner_part AS (
        SELECT v.user_id AS user_id, v.ts AS view_ts, p.ts AS purchase_ts
        FROM v JOIN p ON p.user_id = v.user_id
         AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 DAY
    ),
    unmatched AS (
        SELECT v.user_id, v.ts AS view_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts
        FROM v
        WHERE NOT EXISTS (
            SELECT 1 FROM p WHERE p.user_id = v.user_id
              AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 DAY
        )
        AND v.ts + INTERVAL 1 DAY < (SELECT w FROM wm)
    )
    SELECT * FROM inner_part UNION ALL SELECT * FROM unmatched
    """

ORACLES["copurchase_clustering_coefficient"] = f"""
    WITH {_TRIANGLE_CTES}
    SELECT d.id,
           d.deg AS degree,
           coalesce(t.n_triangles, 0) AS n_triangles,
           (CASE WHEN isnan(CAST((coalesce(t.n_triangles, 0)
                 / nullif(d.deg * (d.deg - 1) / 2.0, 0)) AS DOUBLE)) OR abs(CAST((coalesce(t.n_triangles, 0)
                 / nullif(d.deg * (d.deg - 1) / 2.0, 0)) AS DOUBLE)) >= 4611686018427.388 THEN (coalesce(t.n_triangles, 0)
                 / nullif(d.deg * (d.deg - 1) / 2.0, 0)) ELSE floor((coalesce(t.n_triangles, 0)
                 / nullif(d.deg * (d.deg - 1) / 2.0, 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS clustering_coeff
    FROM deg d LEFT JOIN tri_counts t ON t.id = d.id
    """

ORACLES["copurchase_triangle_counts"] = f"""
    WITH e AS (
        SELECT src AS x, dst AS y
        FROM '{_AUX_DIR}/copurchase_pairs/*.parquet' WHERE src < dst
    ),
    deg AS (
        SELECT id, count(*) AS deg FROM (
            SELECT x AS id FROM e UNION ALL SELECT y FROM e
        ) GROUP BY 1
    ),
    oriented AS (
        SELECT CASE WHEN dx.deg < dy.deg OR (dx.deg = dy.deg AND e.x < e.y)
                    THEN e.x ELSE e.y END AS src,
               CASE WHEN dx.deg < dy.deg OR (dx.deg = dy.deg AND e.x < e.y)
                    THEN e.y ELSE e.x END AS dst
        FROM e JOIN deg dx ON dx.id = e.x JOIN deg dy ON dy.id = e.y
    ),
    wedges AS (
        SELECT w1.src AS u, w1.dst AS v, w2.dst AS w
        FROM oriented w1 JOIN oriented w2 ON w1.src = w2.src AND w1.dst < w2.dst
    ),
    closing AS (
        SELECT least(src, dst) AS v, greatest(src, dst) AS w FROM oriented
    ),
    tri AS (SELECT u, v, w FROM wedges JOIN closing USING (v, w))
    SELECT id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        SELECT u AS id FROM tri
        UNION ALL SELECT v FROM tri
        UNION ALL SELECT w FROM tri
    ) GROUP BY 1
    """

ORACLES["dbt_schema_tests"] = """
    SELECT 'customer' AS table_name, 'c_custkey' AS column_name, 'unique' AS test_name,
           CAST(coalesce((SELECT sum(n) FROM (SELECT count(*) AS n FROM customer GROUP BY c_custkey HAVING count(*) > 1)), 0) AS BIGINT) AS n_failures
    UNION ALL
    SELECT 'customer', 'c_custkey', 'not_null',
           CAST(count_if(c_custkey IS NULL) AS BIGINT) FROM customer
    UNION ALL
    SELECT 'orders', 'o_orderkey', 'unique',
           CAST(coalesce((SELECT sum(n) FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey HAVING count(*) > 1)), 0) AS BIGINT)
    UNION ALL
    SELECT 'orders', 'o_custkey', 'relationships',
           CAST((SELECT count(*) FROM orders o
                 WHERE o.o_custkey IS NOT NULL
                   AND o.o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT)
    UNION ALL
    SELECT 'orders', 'o_orderstatus', 'accepted_values',
           CAST(count_if(o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O', 'F')) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem', 'l_orderkey', 'relationships',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE l.l_orderkey IS NOT NULL
                   AND l.l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem', 'l_returnflag', 'accepted_values',
           CAST(count_if(l_returnflag IS NOT NULL AND l_returnflag NOT IN ('A', 'N', 'R')) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'events', 'event_id', 'unique',
           CAST(coalesce((SELECT sum(n) FROM (SELECT count(*) AS n FROM events GROUP BY event_id HAVING count(*) > 1)), 0) AS BIGINT)
    UNION ALL
    SELECT 'events', 'user_id', 'not_null',
           CAST(count_if(user_id IS NULL) AS BIGINT) FROM events
    UNION ALL
    SELECT 'documents', 'lang', 'accepted_values',
           CAST(count_if(lang IS NOT NULL AND lang NOT IN ('en', 'de', 'es', 'fr', 'zh')) AS BIGINT)
    FROM documents
    """

ORACLES["dedup_incremental_batch"] = f"""
    WITH ix AS (SELECT * FROM '{_AUX_DIR}/incr_fp_index/*.parquet'),
    raw_batch AS (
        -- genuinely new docs
        SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        -- corpus resubmissions, re-cased/padded (normalization-equal)
        SELECT doc_id + 100000, upper(text) || '  '
        FROM documents WHERE doc_id % 5 <> 0 AND doc_id % 7 = 0
        UNION ALL
        -- within-batch duplicates of the new docs
        SELECT doc_id + 200000, text
        FROM documents WHERE doc_id % 5 = 0 AND doc_id % 3 = 0
    ),
    batch AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM raw_batch
    ),
    w AS (
        SELECT b.doc_id, b.fp, ix.owner_id,
               min(b.doc_id) OVER (PARTITION BY b.fp) AS first_in_batch
        FROM batch b LEFT JOIN ix ON ix.fp = b.fp
    )
    SELECT doc_id,
           CASE WHEN owner_id IS NOT NULL THEN 'dup_of_corpus'
                WHEN doc_id > first_in_batch THEN 'dup_in_batch'
                ELSE 'new' END AS status,
           CASE WHEN owner_id IS NOT NULL THEN owner_id
                WHEN doc_id > first_in_batch THEN first_in_batch END AS dup_of
    FROM w
    """

ORACLES["span_dedup_rewrite"] = """
    WITH t AS (
        SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS toks
        FROM documents
    ), c AS (
        SELECT doc_id, CAST(g AS INT) AS chunk_idx,
               array_to_string(list_slice(toks, g * 32 + 1, g * 32 + 32), ' ')
                   AS chunk_text
        FROM t, unnest(generate_series(0, (len(toks) + 31) // 32 - 1)) AS u(g)
    ), w AS (
        SELECT doc_id, chunk_idx, chunk_text,
               row_number() OVER (PARTITION BY md5(chunk_text)
                                  ORDER BY doc_id, chunk_idx) AS rn
        FROM c
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(chunk_text, ' ' ORDER BY chunk_idx)
                        FILTER (WHERE rn = 1), '') AS clean_text
    FROM w GROUP BY doc_id
    """

ORACLES["winsorized_value_stats"] = """
    WITH b AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS cnt
        FROM events
    ), bounds AS (
        SELECT event_type,
               min(CASE WHEN rn = greatest(CAST(ceil(cnt * 0.01) AS BIGINT), 1)
                        THEN value END) AS lo_cut,
               min(CASE WHEN rn = greatest(CAST(ceil(cnt * 0.99) AS BIGINT), 1)
                        THEN value END) AS hi_cut
        FROM b GROUP BY event_type
    ), c AS (
        SELECT b.event_type, lo_cut, hi_cut,
               CAST(round(value * 100) AS BIGINT) AS rawi,
               CAST(round(least(greatest(value, lo_cut), hi_cut) * 100) AS BIGINT)
                   AS wini
        FROM b JOIN bounds USING (event_type)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           min(lo_cut) AS lo_cut,
           min(hi_cut) AS hi_cut,
           (CASE WHEN isnan(CAST((CAST(sum(rawi) AS DOUBLE) / 100.0 / count(*)) AS DOUBLE)) OR abs(CAST((CAST(sum(rawi) AS DOUBLE) / 100.0 / count(*)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(rawi) AS DOUBLE) / 100.0 / count(*)) ELSE floor((CAST(sum(rawi) AS DOUBLE) / 100.0 / count(*)) * 1000000.0 + 0.5) / 1000000.0 END) AS mean_raw,
           (CASE WHEN isnan(CAST((CAST(sum(wini) AS DOUBLE) / 100.0 / count(*)) AS DOUBLE)) OR abs(CAST((CAST(sum(wini) AS DOUBLE) / 100.0 / count(*)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(wini) AS DOUBLE) / 100.0 / count(*)) ELSE floor((CAST(sum(wini) AS DOUBLE) / 100.0 / count(*)) * 1000000.0 + 0.5) / 1000000.0 END) AS mean_winsor,
           (CASE WHEN isnan(CAST((sqrt(greatest(
               (CAST(sum(wini * wini) AS DOUBLE)
                - CAST(sum(wini) AS DOUBLE) * CAST(sum(wini) AS DOUBLE) / count(*))
               / 10000.0 / (count(*) - 1), 0.0))) AS DOUBLE)) OR abs(CAST((sqrt(greatest(
               (CAST(sum(wini * wini) AS DOUBLE)
                - CAST(sum(wini) AS DOUBLE) * CAST(sum(wini) AS DOUBLE) / count(*))
               / 10000.0 / (count(*) - 1), 0.0))) AS DOUBLE)) >= 4611686018427.388 THEN (sqrt(greatest(
               (CAST(sum(wini * wini) AS DOUBLE)
                - CAST(sum(wini) AS DOUBLE) * CAST(sum(wini) AS DOUBLE) / count(*))
               / 10000.0 / (count(*) - 1), 0.0))) ELSE floor((sqrt(greatest(
               (CAST(sum(wini * wini) AS DOUBLE)
                - CAST(sum(wini) AS DOUBLE) * CAST(sum(wini) AS DOUBLE) / count(*))
               / 10000.0 / (count(*) - 1), 0.0))) * 1000000.0 + 0.5) / 1000000.0 END) AS sd_winsor
    FROM c GROUP BY event_type
    """

ORACLES["bm25_search_topk"] = f"""
    WITH lens AS (SELECT doc_id, len({_TOKS}) AS dl FROM documents),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                     CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
              FROM lens),
    toks AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    postings AS (
        SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN ('vector', 'merge', 'stream') GROUP BY 1, 2
    ),
    p2 AS (SELECT p.doc_id, p.term, p.tf, l.dl
           FROM postings p JOIN lens l USING (doc_id)),
    dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY 1),
    scored AS (
        SELECT p.doc_id,
               (CASE WHEN isnan(CAST((sum(
                   ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * p.tf * (1.2 + 1.0)
                   / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl))
               )) AS DOUBLE)) OR abs(CAST((sum(
                   ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * p.tf * (1.2 + 1.0)
                   / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl))
               )) AS DOUBLE)) >= 4611686018427.388 THEN (sum(
                   ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * p.tf * (1.2 + 1.0)
                   / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl))
               )) ELSE floor((sum(
                   ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * p.tf * (1.2 + 1.0)
                   / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl))
               )) * 1000000.0 + 0.5) / 1000000.0 END) AS score
        FROM p2 p JOIN dfreq d USING (term) CROSS JOIN stats s
        GROUP BY p.doc_id
    )
    SELECT doc_id, score,
           row_number() OVER (ORDER BY score DESC, doc_id) AS rank
    FROM scored ORDER BY score DESC, doc_id LIMIT 10
    """

ORACLES["streaming_sliding_window_counts"] = """
    SELECT time_bucket(INTERVAL '2 hours', ts) - INTERVAL 2 HOUR * k
               AS window_start,
           event_type,
           count(*) AS n_events,
           (CASE WHEN isnan(CAST((sum(value)) AS DOUBLE)) OR abs(CAST((sum(value)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value)) ELSE floor((sum(value)) * 1000000.0 + 0.5) / 1000000.0 END) AS total_value
    FROM events, unnest(generate_series(0, 2)) AS u(k)
    GROUP BY 1, 2
    """

ORACLES["asof_cogroup_pandas"] = """
    SELECT p.user_id, p.event_id, p.ts, p.value,
           v.ts AS ts_r, v.event_id AS event_id_r, v.value AS value_r
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """

ORACLES["target_encode_brand"] = """
    WITH lab AS (
        SELECT p.p_brand,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), stats AS (
        SELECT p_brand,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS pos
        FROM lab GROUP BY 1
    ), g AS (
        SELECT CAST(sum(y) AS DOUBLE) / count(*) AS prior FROM lab
    )
    SELECT p_brand, n, pos,
           (CASE WHEN isnan(CAST((CAST(pos AS DOUBLE) / n) AS DOUBLE)) OR abs(CAST((CAST(pos AS DOUBLE) / n) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(pos AS DOUBLE) / n) ELSE floor((CAST(pos AS DOUBLE) / n) * 1000000.0 + 0.5) / 1000000.0 END) AS raw_rate,
           (CASE WHEN isnan(CAST(((pos + 20.0 * prior) / (n + 20.0)) AS DOUBLE)) OR abs(CAST(((pos + 20.0 * prior) / (n + 20.0)) AS DOUBLE)) >= 4611686018427.388 THEN ((pos + 20.0 * prior) / (n + 20.0)) ELSE floor(((pos + 20.0 * prior) / (n + 20.0)) * 1000000.0 + 0.5) / 1000000.0 END) AS encoded
    FROM stats CROSS JOIN g
    """

ORACLES["streaming_static_dim_join"] = """
    SELECT c.c_mktsegment AS segment, e.event_type,
           count(*) AS n_events,
           (CASE WHEN isnan(CAST((sum(e.value)) AS DOUBLE)) OR abs(CAST((sum(e.value)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(e.value)) ELSE floor((sum(e.value)) * 1000000.0 + 0.5) / 1000000.0 END) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """

ORACLES["k_anonymity_suppress"] = """
    WITH g AS (
        SELECT c_mktsegment, c_nationkey,
               CAST(count(*) AS BIGINT) AS grp_n
        FROM customer GROUP BY 1, 2
    )
    SELECT c.c_custkey,
           CASE WHEN g.grp_n >= 10 THEN c.c_mktsegment END AS segment_anon,
           CASE WHEN g.grp_n >= 10 THEN c.c_nationkey END AS nation_anon,
           g.grp_n < 10 AS suppressed,
           g.grp_n
    FROM customer c
    JOIN g ON c.c_mktsegment = g.c_mktsegment
          AND c.c_nationkey = g.c_nationkey
    """

ORACLES["embedding_int8_quantize"] = """
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        FROM embeddings
    ), m AS (
        SELECT vec_id, vd,
               127.0 / list_max(list_transform(vd, x -> abs(x))) AS scale
        FROM v
    )
    SELECT vec_id,
           (CASE WHEN isnan(CAST((scale) AS DOUBLE)) OR abs(CAST((scale) AS DOUBLE)) >= 4611686018427.388 THEN (scale) ELSE floor((scale) * 1000000.0 + 0.5) / 1000000.0 END) AS scale,
           (CASE WHEN isnan(CAST((list_max(list_transform(
               vd, x -> abs(x - round(x * scale) / scale)))) AS DOUBLE)) OR abs(CAST((list_max(list_transform(
               vd, x -> abs(x - round(x * scale) / scale)))) AS DOUBLE)) >= 4611686018427.388 THEN (list_max(list_transform(
               vd, x -> abs(x - round(x * scale) / scale)))) ELSE floor((list_max(list_transform(
               vd, x -> abs(x - round(x * scale) / scale)))) * 1000000.0 + 0.5) / 1000000.0 END) AS max_abs_err,
           CAST(len(list_filter(
               vd, x -> abs(round(x * scale)) = 127.0)) AS INT) AS n_sat
    FROM m
    """

ORACLES["abc_customer_classification"] = """
    WITH r AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_cents
        FROM orders GROUP BY 1
    ), t AS (
        SELECT CAST(sum(rev_cents) AS DOUBLE) AS tot FROM r
    ), c AS (
        SELECT o_custkey, rev_cents,
               CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, o_custkey
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum
        FROM r
    )
    SELECT o_custkey, rev_cents,
           (CASE WHEN isnan(CAST((CAST(cum AS DOUBLE) / (SELECT tot FROM t)) AS DOUBLE)) OR abs(CAST((CAST(cum AS DOUBLE) / (SELECT tot FROM t)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(cum AS DOUBLE) / (SELECT tot FROM t)) ELSE floor((CAST(cum AS DOUBLE) / (SELECT tot FROM t)) * 1000000.0 + 0.5) / 1000000.0 END) AS cum_share,
           CASE WHEN CAST(cum AS DOUBLE) / (SELECT tot FROM t) <= 0.80 THEN 'A'
                WHEN CAST(cum AS DOUBLE) / (SELECT tot FROM t) <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c
    """

ORACLES["business_days_to_ship"] = """
    WITH b AS (
        SELECT o.o_orderpriority,
               (5 * (date_diff('day', DATE '1970-01-05', l.l_shipdate) // 7)
                + least(date_diff('day', DATE '1970-01-05', l.l_shipdate) % 7, 5))
               -
               (5 * (date_diff('day', DATE '1970-01-05', o.o_orderdate) // 7)
                + least(date_diff('day', DATE '1970-01-05', o.o_orderdate) % 7, 5))
                   AS bd
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           (CASE WHEN isnan(CAST((CAST(sum(bd) AS DOUBLE) / count(*)) AS DOUBLE)) OR abs(CAST((CAST(sum(bd) AS DOUBLE) / count(*)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(bd) AS DOUBLE) / count(*)) ELSE floor((CAST(sum(bd) AS DOUBLE) / count(*)) * 1000000.0 + 0.5) / 1000000.0 END) AS avg_business_days,
           CAST(max(bd) AS BIGINT) AS max_business_days
    FROM b GROUP BY 1
    """

ORACLES["event_trigram_paths"] = """
    WITH s AS (
        SELECT user_id, event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), p AS (
        SELECT e1 || '>' || e2 || '>' || e3 AS path FROM s WHERE e3 IS NOT NULL
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n,
           row_number() OVER (ORDER BY count(*) DESC, path) AS rank
    FROM p GROUP BY path ORDER BY n DESC, path LIMIT 10
    """

ORACLES["corpus_token_budget_select"] = f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tok,
               (CASE WHEN isnan(CAST((CAST(len(list_distinct(toks)) AS DOUBLE)
                     / greatest(len(toks), 1)) AS DOUBLE)) OR abs(CAST((CAST(len(list_distinct(toks)) AS DOUBLE)
                     / greatest(len(toks), 1)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(len(list_distinct(toks)) AS DOUBLE)
                     / greatest(len(toks), 1)) ELSE floor((CAST(len(list_distinct(toks)) AS DOUBLE)
                     / greatest(len(toks), 1)) * 1000000.0 + 0.5) / 1000000.0 END) AS ttr
        FROM d
    ), t AS (
        SELECT CAST(sum(n_tok) AS BIGINT) // 2 AS budget FROM s
    ), c AS (
        SELECT doc_id, n_tok, ttr,
               CAST(sum(n_tok) OVER (ORDER BY ttr DESC, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_tokens
        FROM s
    )
    SELECT doc_id, n_tok, ttr, cum_tokens
    FROM c WHERE cum_tokens <= (SELECT budget FROM t)
    """

ORACLES["session_bounce_rate"] = """
    WITH o AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
        SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sess
        FROM o
    ), sessions AS (
        SELECT user_id, sess,
               CAST(date_trunc('day', min(ts)) AS DATE) AS day,
               count(*) AS n_events
        FROM s GROUP BY user_id, sess
    )
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounce,
           (CASE WHEN isnan(CAST((CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*)) AS DOUBLE)) OR abs(CAST((CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*)) ELSE floor((CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*)) * 1000000.0 + 0.5) / 1000000.0 END) AS bounce_rate
    FROM sessions GROUP BY day
    """

ORACLES["decision_stump_train"] = """
    WITH x AS (
        SELECT 'quantity' AS feature, CAST(l_quantity AS DOUBLE) AS v,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
        UNION ALL
        SELECT 'discount', CAST(l_discount AS DOUBLE),
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
        FROM lineitem
    ), g AS (
        SELECT feature, v, CAST(count(*) AS BIGINT) AS n_v,
               CAST(sum(y) AS BIGINT) AS pos_v
        FROM x GROUP BY 1, 2
    ), c AS (
        SELECT feature, v,
               CAST(sum(n_v) OVER w AS BIGINT) AS nl,
               CAST(sum(pos_v) OVER w AS BIGINT) AS posl,
               CAST(sum(n_v) OVER (PARTITION BY feature) AS BIGINT) AS n,
               CAST(sum(pos_v) OVER (PARTITION BY feature) AS BIGINT) AS pos
        FROM g
        WINDOW w AS (PARTITION BY feature ORDER BY v ROWS UNBOUNDED PRECEDING)
    ), s AS (
        SELECT feature, v AS thr, nl, posl, n - nl AS nr, pos - posl AS posr,
               n, pos
        FROM c WHERE nl < n
    ), sc AS (
        SELECT feature, thr, nl AS n_left, nr AS n_right,
               (CASE WHEN isnan(CAST(((1.0 - (CAST(pos AS DOUBLE) / n) * (CAST(pos AS DOUBLE) / n)
                        - (CAST(n - pos AS DOUBLE) / n) * (CAST(n - pos AS DOUBLE) / n))
                   - (CAST(nl AS DOUBLE) / n
                      * (1.0 - (CAST(posl AS DOUBLE) / nl) * (CAST(posl AS DOUBLE) / nl)
                             - (CAST(nl - posl AS DOUBLE) / nl) * (CAST(nl - posl AS DOUBLE) / nl))
                      + CAST(nr AS DOUBLE) / n
                      * (1.0 - (CAST(posr AS DOUBLE) / nr) * (CAST(posr AS DOUBLE) / nr)
                             - (CAST(nr - posr AS DOUBLE) / nr) * (CAST(nr - posr AS DOUBLE) / nr)))) AS DOUBLE)) OR abs(CAST(((1.0 - (CAST(pos AS DOUBLE) / n) * (CAST(pos AS DOUBLE) / n)
                        - (CAST(n - pos AS DOUBLE) / n) * (CAST(n - pos AS DOUBLE) / n))
                   - (CAST(nl AS DOUBLE) / n
                      * (1.0 - (CAST(posl AS DOUBLE) / nl) * (CAST(posl AS DOUBLE) / nl)
                             - (CAST(nl - posl AS DOUBLE) / nl) * (CAST(nl - posl AS DOUBLE) / nl))
                      + CAST(nr AS DOUBLE) / n
                      * (1.0 - (CAST(posr AS DOUBLE) / nr) * (CAST(posr AS DOUBLE) / nr)
                             - (CAST(nr - posr AS DOUBLE) / nr) * (CAST(nr - posr AS DOUBLE) / nr)))) AS DOUBLE)) >= 4611686018427.388 THEN ((1.0 - (CAST(pos AS DOUBLE) / n) * (CAST(pos AS DOUBLE) / n)
                        - (CAST(n - pos AS DOUBLE) / n) * (CAST(n - pos AS DOUBLE) / n))
                   - (CAST(nl AS DOUBLE) / n
                      * (1.0 - (CAST(posl AS DOUBLE) / nl) * (CAST(posl AS DOUBLE) / nl)
                             - (CAST(nl - posl AS DOUBLE) / nl) * (CAST(nl - posl AS DOUBLE) / nl))
                      + CAST(nr AS DOUBLE) / n
                      * (1.0 - (CAST(posr AS DOUBLE) / nr) * (CAST(posr AS DOUBLE) / nr)
                             - (CAST(nr - posr AS DOUBLE) / nr) * (CAST(nr - posr AS DOUBLE) / nr)))) ELSE floor(((1.0 - (CAST(pos AS DOUBLE) / n) * (CAST(pos AS DOUBLE) / n)
                        - (CAST(n - pos AS DOUBLE) / n) * (CAST(n - pos AS DOUBLE) / n))
                   - (CAST(nl AS DOUBLE) / n
                      * (1.0 - (CAST(posl AS DOUBLE) / nl) * (CAST(posl AS DOUBLE) / nl)
                             - (CAST(nl - posl AS DOUBLE) / nl) * (CAST(nl - posl AS DOUBLE) / nl))
                      + CAST(nr AS DOUBLE) / n
                      * (1.0 - (CAST(posr AS DOUBLE) / nr) * (CAST(posr AS DOUBLE) / nr)
                             - (CAST(nr - posr AS DOUBLE) / nr) * (CAST(nr - posr AS DOUBLE) / nr)))) * 1000000.0 + 0.5) / 1000000.0 END) AS gini_gain
        FROM s
    )
    SELECT feature, thr, n_left, n_right, gini_gain,
           row_number() OVER (ORDER BY gini_gain DESC, feature, thr) AS rank
    FROM sc ORDER BY gini_gain DESC, feature, thr LIMIT 10
    """

ORACLES["join_key_skew_profile"] = """
    WITH k AS (
        SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1
    ), t AS (
        SELECT CAST(sum(n) AS DOUBLE) AS tot,
               CAST(count(*) AS BIGINT) AS n_keys
        FROM k
    )
    SELECT key, n,
           (CASE WHEN isnan(CAST((CAST(n AS DOUBLE) / (SELECT tot FROM t)) AS DOUBLE)) OR abs(CAST((CAST(n AS DOUBLE) / (SELECT tot FROM t)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(n AS DOUBLE) / (SELECT tot FROM t)) ELSE floor((CAST(n AS DOUBLE) / (SELECT tot FROM t)) * 1000000.0 + 0.5) / 1000000.0 END) AS share,
           (CASE WHEN isnan(CAST((CAST(n AS DOUBLE) * (SELECT n_keys FROM t)
                 / (SELECT tot FROM t)) AS DOUBLE)) OR abs(CAST((CAST(n AS DOUBLE) * (SELECT n_keys FROM t)
                 / (SELECT tot FROM t)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(n AS DOUBLE) * (SELECT n_keys FROM t)
                 / (SELECT tot FROM t)) ELSE floor((CAST(n AS DOUBLE) * (SELECT n_keys FROM t)
                 / (SELECT tot FROM t)) * 1000000.0 + 0.5) / 1000000.0 END) AS skew_factor,
           row_number() OVER (ORDER BY n DESC, key) AS rank
    FROM k ORDER BY n DESC, key LIMIT 20
    """

ORACLES["rolling_correlation_series"] = """
    WITH d AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events WHERE event_type IN ('purchase', 'view')
        GROUP BY 1, 2
    ), p AS (
        SELECT a.day, a.cents AS x, b.cents AS y
        FROM (SELECT day, cents FROM d WHERE event_type = 'purchase') a
        JOIN (SELECT day, cents FROM d WHERE event_type = 'view') b USING (day)
    ), w AS (
        SELECT day,
               CAST(count(*)   OVER win AS BIGINT) AS n,
               CAST(sum(x)     OVER win AS BIGINT) AS sx,
               CAST(sum(y)     OVER win AS BIGINT) AS sy,
               CAST(sum(x * x) OVER win AS BIGINT) AS sxx,
               CAST(sum(y * y) OVER win AS BIGINT) AS syy,
               CAST(sum(x * y) OVER win AS BIGINT) AS sxy
        FROM p
        WINDOW win AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT day,
           (CASE WHEN isnan(CAST((CAST(n * sxy - sx * sy AS DOUBLE)
                 / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                          * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0)) AS DOUBLE)) OR abs(CAST((CAST(n * sxy - sx * sy AS DOUBLE)
                 / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                          * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(n * sxy - sx * sy AS DOUBLE)
                 / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                          * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0)) ELSE floor((CAST(n * sxy - sx * sy AS DOUBLE)
                 / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                          * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0)) * 1000000.0 + 0.5) / 1000000.0 END)
               AS corr14
    FROM w WHERE n = 14
    """

ORACLES["ab_test_conversion_lift"] = """
    WITH u AS (
        SELECT user_id,
               CASE WHEN CAST((instr('0123456789abcdef',
                                     substr(md5(CAST(user_id AS VARCHAR) || 'ab1'), 1, 1)) - 1) * 16
                         + (instr('0123456789abcdef',
                                  substr(md5(CAST(user_id AS VARCHAR) || 'ab1'), 2, 1)) - 1)
                         AS BIGINT) % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY 1
    )
    SELECT arm,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           (CASE WHEN isnan(CAST((CAST(sum(converted) AS DOUBLE) / count(*)) AS DOUBLE)) OR abs(CAST((CAST(sum(converted) AS DOUBLE) / count(*)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(converted) AS DOUBLE) / count(*)) ELSE floor((CAST(sum(converted) AS DOUBLE) / count(*)) * 1000000.0 + 0.5) / 1000000.0 END) AS rate,
           (CASE WHEN isnan(CAST(((CAST(sum(converted) AS DOUBLE) / count(*)
                  + 1.9208 / count(*)
                  - 1.96 * sqrt((CAST(sum(converted) AS DOUBLE) / count(*))
                                * (1.0 - CAST(sum(converted) AS DOUBLE) / count(*))
                                / count(*)
                                + 0.9604 / count(*) / count(*)))
                 / (1.0 + 3.8416 / count(*))) AS DOUBLE)) OR abs(CAST(((CAST(sum(converted) AS DOUBLE) / count(*)
                  + 1.9208 / count(*)
                  - 1.96 * sqrt((CAST(sum(converted) AS DOUBLE) / count(*))
                                * (1.0 - CAST(sum(converted) AS DOUBLE) / count(*))
                                / count(*)
                                + 0.9604 / count(*) / count(*)))
                 / (1.0 + 3.8416 / count(*))) AS DOUBLE)) >= 4611686018427.388 THEN ((CAST(sum(converted) AS DOUBLE) / count(*)
                  + 1.9208 / count(*)
                  - 1.96 * sqrt((CAST(sum(converted) AS DOUBLE) / count(*))
                                * (1.0 - CAST(sum(converted) AS DOUBLE) / count(*))
                                / count(*)
                                + 0.9604 / count(*) / count(*)))
                 / (1.0 + 3.8416 / count(*))) ELSE floor(((CAST(sum(converted) AS DOUBLE) / count(*)
                  + 1.9208 / count(*)
                  - 1.96 * sqrt((CAST(sum(converted) AS DOUBLE) / count(*))
                                * (1.0 - CAST(sum(converted) AS DOUBLE) / count(*))
                                / count(*)
                                + 0.9604 / count(*) / count(*)))
                 / (1.0 + 3.8416 / count(*))) * 1000000.0 + 0.5) / 1000000.0 END) AS wilson_lo,
           (CASE WHEN isnan(CAST(((CAST(sum(converted) AS DOUBLE) / count(*)
                  + 1.9208 / count(*)
                  + 1.96 * sqrt((CAST(sum(converted) AS DOUBLE) / count(*))
                                * (1.0 - CAST(sum(converted) AS DOUBLE) / count(*))
                                / count(*)
                                + 0.9604 / count(*) / count(*)))
                 / (1.0 + 3.8416 / count(*))) AS DOUBLE)) OR abs(CAST(((CAST(sum(converted) AS DOUBLE) / count(*)
                  + 1.9208 / count(*)
                  + 1.96 * sqrt((CAST(sum(converted) AS DOUBLE) / count(*))
                                * (1.0 - CAST(sum(converted) AS DOUBLE) / count(*))
                                / count(*)
                                + 0.9604 / count(*) / count(*)))
                 / (1.0 + 3.8416 / count(*))) AS DOUBLE)) >= 4611686018427.388 THEN ((CAST(sum(converted) AS DOUBLE) / count(*)
                  + 1.9208 / count(*)
                  + 1.96 * sqrt((CAST(sum(converted) AS DOUBLE) / count(*))
                                * (1.0 - CAST(sum(converted) AS DOUBLE) / count(*))
                                / count(*)
                                + 0.9604 / count(*) / count(*)))
                 / (1.0 + 3.8416 / count(*))) ELSE floor(((CAST(sum(converted) AS DOUBLE) / count(*)
                  + 1.9208 / count(*)
                  + 1.96 * sqrt((CAST(sum(converted) AS DOUBLE) / count(*))
                                * (1.0 - CAST(sum(converted) AS DOUBLE) / count(*))
                                / count(*)
                                + 0.9604 / count(*) / count(*)))
                 / (1.0 + 3.8416 / count(*))) * 1000000.0 + 0.5) / 1000000.0 END) AS wilson_hi
    FROM u GROUP BY arm
    """

ORACLES["trading_day_rollup"] = """
    SELECT CAST(CAST((ts AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York'
                     AS TIMESTAMP) AS DATE) AS trading_day,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY 1, 2
    """

ORACLES["dow_seasonality_index"] = """
    WITH d AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1
    ), k AS (
        SELECT CAST(dayofweek(day) + 1 AS INT) AS dow,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(cents) AS BIGINT) AS cents
        FROM d GROUP BY 1
    ), t AS (
        SELECT CAST(sum(cents) AS DOUBLE) / sum(n_days) AS overall_daily FROM k
    )
    SELECT dow, n_days,
           (CASE WHEN isnan(CAST((CAST(cents AS DOUBLE) / n_days / 100.0) AS DOUBLE)) OR abs(CAST((CAST(cents AS DOUBLE) / n_days / 100.0) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(cents AS DOUBLE) / n_days / 100.0) ELSE floor((CAST(cents AS DOUBLE) / n_days / 100.0) * 1000000.0 + 0.5) / 1000000.0 END) AS avg_daily_revenue,
           (CASE WHEN isnan(CAST(((CAST(cents AS DOUBLE) / n_days) / (SELECT overall_daily FROM t)) AS DOUBLE)) OR abs(CAST(((CAST(cents AS DOUBLE) / n_days) / (SELECT overall_daily FROM t)) AS DOUBLE)) >= 4611686018427.388 THEN ((CAST(cents AS DOUBLE) / n_days) / (SELECT overall_daily FROM t)) ELSE floor(((CAST(cents AS DOUBLE) / n_days) / (SELECT overall_daily FROM t)) * 1000000.0 + 0.5) / 1000000.0 END) AS seasonality_index
    FROM k
    """

ORACLES["seed_sla_attainment"] = """
    WITH sla AS (
        SELECT * FROM (VALUES
            ('1-URGENT', 5), ('2-HIGH', 7), ('3-MEDIUM', 10),
            ('4-NOT SPECIFIED', 14), ('5-LOW', 21)
        ) AS v(o_orderpriority, sla_business_days)
    ), b AS (
        SELECT o.o_orderpriority, s.sla_business_days,
               (5 * (date_diff('day', DATE '1970-01-05', l.l_shipdate) // 7)
                + least(date_diff('day', DATE '1970-01-05', l.l_shipdate) % 7, 5))
               -
               (5 * (date_diff('day', DATE '1970-01-05', o.o_orderdate) // 7)
                + least(date_diff('day', DATE '1970-01-05', o.o_orderdate) % 7, 5))
                   AS bd
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN sla s ON o.o_orderpriority = s.o_orderpriority
    )
    SELECT o_orderpriority, sla_business_days,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN bd <= sla_business_days THEN 1 ELSE 0 END)
                AS BIGINT) AS n_met,
           (CASE WHEN isnan(CAST((CAST(sum(CASE WHEN bd <= sla_business_days THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*)) AS DOUBLE)) OR abs(CAST((CAST(sum(CASE WHEN bd <= sla_business_days THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(CASE WHEN bd <= sla_business_days THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*)) ELSE floor((CAST(sum(CASE WHEN bd <= sla_business_days THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*)) * 1000000.0 + 0.5) / 1000000.0 END) AS attainment
    FROM b GROUP BY 1, 2
    """

ORACLES["capped_user_balance"] = """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list(CAST(round(value * 100) AS BIGINT)
                        * CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END
                        ORDER BY ts, event_id)),
               (acc, x) -> greatest(CAST(0 AS BIGINT), acc + x)) AS BIGINT)
               AS final_balance
    FROM events
    GROUP BY user_id
    """

ORACLES["embedding_outlier_flags"] = f"""
    WITH st AS (SELECT * FROM '{_AUX_DIR}/emb_outlier_stats/*.parquet'),
    v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        FROM embeddings
    ), d AS (
        SELECT v.vec_id,
               sqrt(list_reduce(
                   list_prepend(0.0, list_transform(
                       generate_series(1, len(vd)),
                       i -> (vd[i] - st.cen[i]) * (vd[i] - st.cen[i]))),
                   (acc, x) -> acc + x)) AS dist,
               st.mu AS mu, st.sigma AS sigma
        FROM v CROSS JOIN st
    )
    SELECT vec_id, (CASE WHEN isnan(CAST((dist) AS DOUBLE)) OR abs(CAST((dist) AS DOUBLE)) >= 4611686018427.388 THEN (dist) ELSE floor((dist) * 1000000.0 + 0.5) / 1000000.0 END) AS dist,
           dist > mu + 2.0 * sigma AS is_outlier
    FROM d
    """

ORACLES["revenue_bridge_mom"] = """
    WITH m AS (
        SELECT event_type, CAST(date_trunc('month', ts) AS DATE) AS month,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ), w AS (
        SELECT event_type, month, n, cents,
               lag(n)     OVER win AS n0,
               lag(cents) OVER win AS cents0
        FROM m WINDOW win AS (PARTITION BY event_type ORDER BY month)
    )
    SELECT event_type, month,
           (CASE WHEN isnan(CAST((CAST(cents - cents0 AS DOUBLE) / 100.0) AS DOUBLE)) OR abs(CAST((CAST(cents - cents0 AS DOUBLE) / 100.0) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(cents - cents0 AS DOUBLE) / 100.0) ELSE floor((CAST(cents - cents0 AS DOUBLE) / 100.0) * 1000000.0 + 0.5) / 1000000.0 END) AS delta_revenue,
           (CASE WHEN isnan(CAST(((n - n0) * (CAST(cents0 AS DOUBLE) / n0) / 100.0) AS DOUBLE)) OR abs(CAST(((n - n0) * (CAST(cents0 AS DOUBLE) / n0) / 100.0) AS DOUBLE)) >= 4611686018427.388 THEN ((n - n0) * (CAST(cents0 AS DOUBLE) / n0) / 100.0) ELSE floor(((n - n0) * (CAST(cents0 AS DOUBLE) / n0) / 100.0) * 1000000.0 + 0.5) / 1000000.0 END)
               AS volume_effect,
           (CASE WHEN isnan(CAST((n * (CAST(cents AS DOUBLE) / n - CAST(cents0 AS DOUBLE) / n0)
                 / 100.0) AS DOUBLE)) OR abs(CAST((n * (CAST(cents AS DOUBLE) / n - CAST(cents0 AS DOUBLE) / n0)
                 / 100.0) AS DOUBLE)) >= 4611686018427.388 THEN (n * (CAST(cents AS DOUBLE) / n - CAST(cents0 AS DOUBLE) / n0)
                 / 100.0) ELSE floor((n * (CAST(cents AS DOUBLE) / n - CAST(cents0 AS DOUBLE) / n0)
                 / 100.0) * 1000000.0 + 0.5) / 1000000.0 END) AS value_effect
    FROM w WHERE n0 IS NOT NULL
    """

ORACLES["interval_union_coverage"] = """
    WITH iv AS (
        SELECT user_id, ts AS lo, ts + INTERVAL 30 MINUTE AS hi FROM events
    ), o AS (
        SELECT user_id, lo, hi,
               max(hi) OVER (PARTITION BY user_id ORDER BY lo, hi
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max_hi
        FROM iv
    ), g AS (
        SELECT user_id, lo, hi,
               CASE WHEN prev_max_hi IS NULL OR lo > prev_max_hi
                    THEN 1 ELSE 0 END AS is_new
        FROM o
    ), s AS (
        SELECT user_id, lo, hi,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY lo, hi
                                 ROWS UNBOUNDED PRECEDING) AS grp
        FROM g
    ), merged AS (
        SELECT user_id, grp, min(lo) AS lo, max(hi) AS hi
        FROM s GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(date_diff('second', lo, hi)) AS BIGINT) AS covered_seconds
    FROM merged GROUP BY user_id
    """

ORACLES["cohort_ltv_curve"] = """
    WITH first_seen AS (
        SELECT user_id,
               CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY 1
    ), sizes AS (
        SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
        FROM first_seen GROUP BY 1
    ), rev AS (
        SELECT f.cohort_week,
               CAST(date_diff('day', f.cohort_week,
                              CAST(date_trunc('week', e.ts) AS DATE)) // 7
                    AS BIGINT) AS week_index,
               CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events e
        JOIN first_seen f ON e.user_id = f.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2
    ), cum AS (
        SELECT cohort_week, week_index,
               CAST(sum(cents) OVER (PARTITION BY cohort_week ORDER BY week_index
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_cents
        FROM rev
    )
    SELECT c.cohort_week, c.week_index, s.cohort_users,
           (CASE WHEN isnan(CAST((CAST(c.cum_cents AS DOUBLE) / s.cohort_users / 100.0) AS DOUBLE)) OR abs(CAST((CAST(c.cum_cents AS DOUBLE) / s.cohort_users / 100.0) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(c.cum_cents AS DOUBLE) / s.cohort_users / 100.0) ELSE floor((CAST(c.cum_cents AS DOUBLE) / s.cohort_users / 100.0) * 1000000.0 + 0.5) / 1000000.0 END)
               AS ltv_per_user
    FROM cum c JOIN sizes s USING (cohort_week)
    """

ORACLES["open_orders_backlog_daily"] = """
    WITH cl AS (
        SELECT l_orderkey, max(l_shipdate) AS close_day
        FROM lineitem GROUP BY 1
    ), d AS (
        SELECT o.o_orderdate AS day, 1 AS delta
        FROM orders o JOIN cl ON o.o_orderkey = cl.l_orderkey
        UNION ALL
        SELECT cl.close_day, -1
        FROM orders o JOIN cl ON o.o_orderkey = cl.l_orderkey
    ), g AS (
        SELECT day, CAST(sum(delta) AS BIGINT) AS delta FROM d GROUP BY 1
    )
    SELECT day,
           CAST(sum(delta) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS open_orders
    FROM g
    """

ORACLES["inference_score_calibration"] = """
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    scored AS (
        SELECT label,
               (CASE WHEN isnan(CAST((1.0 / (1.0 + exp(-list_dot_product(
                   v,
                   list_transform(range(0, len(v)), j -> ((j % 7) - 3) / 10.0)
               )))) AS DOUBLE)) OR abs(CAST((1.0 / (1.0 + exp(-list_dot_product(
                   v,
                   list_transform(range(0, len(v)), j -> ((j % 7) - 3) / 10.0)
               )))) AS DOUBLE)) >= 4611686018427.388 THEN (1.0 / (1.0 + exp(-list_dot_product(
                   v,
                   list_transform(range(0, len(v)), j -> ((j % 7) - 3) / 10.0)
               )))) ELSE floor((1.0 / (1.0 + exp(-list_dot_product(
                   v,
                   list_transform(range(0, len(v)), j -> ((j % 7) - 3) / 10.0)
               )))) * 1000000.0 + 0.5) / 1000000.0 END) AS score
        FROM e
    ), b AS (
        SELECT least(CAST(floor(score * 10) AS INT), 9) AS bin,
               CAST(round(score * 1000000) AS BIGINT) AS s_micro,
               CASE WHEN label = 0 THEN 1 ELSE 0 END AS y
        FROM scored
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos,
           (CASE WHEN isnan(CAST((CAST(sum(s_micro) AS DOUBLE) / 1000000.0 / count(*)) AS DOUBLE)) OR abs(CAST((CAST(sum(s_micro) AS DOUBLE) / 1000000.0 / count(*)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(s_micro) AS DOUBLE) / 1000000.0 / count(*)) ELSE floor((CAST(sum(s_micro) AS DOUBLE) / 1000000.0 / count(*)) * 1000000.0 + 0.5) / 1000000.0 END)
               AS mean_conf,
           (CASE WHEN isnan(CAST((CAST(sum(y) AS DOUBLE) / count(*)) AS DOUBLE)) OR abs(CAST((CAST(sum(y) AS DOUBLE) / count(*)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(y) AS DOUBLE) / count(*)) ELSE floor((CAST(sum(y) AS DOUBLE) / count(*)) * 1000000.0 + 0.5) / 1000000.0 END) AS pos_rate
    FROM b GROUP BY 1
    """

ORACLES["gini_revenue_concentration"] = """
    WITH r AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ), rk AS (
        SELECT cents,
               CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT)
                   AS i
        FROM r
    )
    SELECT CAST(count(*) AS BIGINT) AS n_customers,
           (CASE WHEN isnan(CAST((CAST(sum(cents) AS DOUBLE) / 100.0) AS DOUBLE)) OR abs(CAST((CAST(sum(cents) AS DOUBLE) / 100.0) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(cents) AS DOUBLE) / 100.0) ELSE floor((CAST(sum(cents) AS DOUBLE) / 100.0) * 1000000.0 + 0.5) / 1000000.0 END) AS total_revenue,
           (CASE WHEN isnan(CAST((CAST(2 * sum(i * cents) AS DOUBLE)
                 / (count(*) * CAST(sum(cents) AS DOUBLE))
                 - CAST(count(*) + 1 AS DOUBLE) / count(*)) AS DOUBLE)) OR abs(CAST((CAST(2 * sum(i * cents) AS DOUBLE)
                 / (count(*) * CAST(sum(cents) AS DOUBLE))
                 - CAST(count(*) + 1 AS DOUBLE) / count(*)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(2 * sum(i * cents) AS DOUBLE)
                 / (count(*) * CAST(sum(cents) AS DOUBLE))
                 - CAST(count(*) + 1 AS DOUBLE) / count(*)) ELSE floor((CAST(2 * sum(i * cents) AS DOUBLE)
                 / (count(*) * CAST(sum(cents) AS DOUBLE))
                 - CAST(count(*) + 1 AS DOUBLE) / count(*)) * 1000000.0 + 0.5) / 1000000.0 END) AS gini
    FROM rk
    """

ORACLES["value_drift_psi_bins"] = """
    WITH m AS (
        SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us
        FROM events
    ), b AS (
        SELECT least(CAST(floor(value / 50.0) AS INT), 9) AS bin,
               CASE WHEN epoch_us(ts) < (SELECT mid_us FROM m)
                    THEN 1 ELSE 0 END AS in_a
        FROM events
    ), t AS (
        SELECT CAST(sum(in_a) AS DOUBLE) AS tot_a,
               CAST(sum(1 - in_a) AS DOUBLE) AS tot_b
        FROM b
    ), g AS (
        SELECT bin,
               CAST(sum(in_a) AS BIGINT) AS n_a,
               CAST(sum(1 - in_a) AS BIGINT) AS n_b
        FROM b GROUP BY 1
    )
    SELECT bin, n_a, n_b,
           (CASE WHEN isnan(CAST((CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t)) AS DOUBLE)) OR abs(CAST((CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t)) ELSE floor((CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t)) * 1000000.0 + 0.5) / 1000000.0 END) AS share_a,
           (CASE WHEN isnan(CAST((CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t)) AS DOUBLE)) OR abs(CAST((CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t)) ELSE floor((CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t)) * 1000000.0 + 0.5) / 1000000.0 END) AS share_b,
           (CASE WHEN isnan(CAST(((greatest(CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t), 0.000001)
                - greatest(CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t), 0.000001))
               * ln(greatest(CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t), 0.000001)
                    / greatest(CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t), 0.000001))) AS DOUBLE)) OR abs(CAST(((greatest(CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t), 0.000001)
                - greatest(CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t), 0.000001))
               * ln(greatest(CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t), 0.000001)
                    / greatest(CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t), 0.000001))) AS DOUBLE)) >= 4611686018427.388 THEN ((greatest(CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t), 0.000001)
                - greatest(CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t), 0.000001))
               * ln(greatest(CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t), 0.000001)
                    / greatest(CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t), 0.000001))) ELSE floor(((greatest(CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t), 0.000001)
                - greatest(CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t), 0.000001))
               * ln(greatest(CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t), 0.000001)
                    / greatest(CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t), 0.000001))) * 1000000.0 + 0.5) / 1000000.0 END) AS psi_contrib
    FROM g
    """

ORACLES["rfm_segmentation"] = """
    WITH p AS (
        SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase'
    ), g AS (SELECT CAST(max(ts) AS DATE) AS gmax FROM p),
    u AS (
        SELECT user_id,
               CAST(date_diff('day', CAST(max(ts) AS DATE),
                              (SELECT gmax FROM g)) AS BIGINT) AS r_days,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(c) AS BIGINT) AS cents
        FROM p GROUP BY 1
    )
    SELECT user_id, r_days, freq, cents,
           CAST(ntile(5) OVER (ORDER BY -r_days, user_id) AS INT) AS r_score,
           CAST(ntile(5) OVER (ORDER BY freq, user_id) AS INT) AS f_score,
           CAST(ntile(5) OVER (ORDER BY cents, user_id) AS INT) AS m_score,
           CAST(ntile(5) OVER (ORDER BY -r_days, user_id) AS VARCHAR)
           || CAST(ntile(5) OVER (ORDER BY freq, user_id) AS VARCHAR)
           || CAST(ntile(5) OVER (ORDER BY cents, user_id) AS VARCHAR)
               AS segment
    FROM u
    """

ORACLES["finance_daily_pipeline"] = """
    WITH gated AS (
        SELECT * FROM events WHERE value > 0 AND value <= 500
    ), d AS (
        SELECT CAST(CAST((ts AT TIME ZONE 'UTC') AT TIME ZONE
                         'America/New_York' AS TIMESTAMP) AS DATE)
                   AS trading_day,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM gated GROUP BY 1, 2
    ), k AS (
        SELECT event_type,
               CAST(dayofweek(trading_day) + 1 AS INT) AS dow,
               CAST(sum(cents) AS BIGINT) AS cents,
               CAST(count(*) AS BIGINT) AS n_days
        FROM d GROUP BY 1, 2
    )
    SELECT d.trading_day, d.event_type, d.n_events,
           (CASE WHEN isnan(CAST((CAST(d.cents AS DOUBLE) / 100.0) AS DOUBLE)) OR abs(CAST((CAST(d.cents AS DOUBLE) / 100.0) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(d.cents AS DOUBLE) / 100.0) ELSE floor((CAST(d.cents AS DOUBLE) / 100.0) * 1000000.0 + 0.5) / 1000000.0 END) AS revenue,
           CAST(dayofweek(d.trading_day) + 1 AS INT) AS dow,
           (CASE WHEN isnan(CAST((CAST(d.cents AS DOUBLE)
                 / (CAST(k.cents AS DOUBLE) / k.n_days)) AS DOUBLE)) OR abs(CAST((CAST(d.cents AS DOUBLE)
                 / (CAST(k.cents AS DOUBLE) / k.n_days)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(d.cents AS DOUBLE)
                 / (CAST(k.cents AS DOUBLE) / k.n_days)) ELSE floor((CAST(d.cents AS DOUBLE)
                 / (CAST(k.cents AS DOUBLE) / k.n_days)) * 1000000.0 + 0.5) / 1000000.0 END)
               AS seasonality_ratio,
           CAST(d.cents AS DOUBLE)
               / (CAST(k.cents AS DOUBLE) / k.n_days) > 1.5 AS is_high
    FROM d JOIN k
      ON d.event_type = k.event_type
     AND CAST(dayofweek(d.trading_day) + 1 AS INT) = k.dow
    """

ORACLES["streaming_value_drift_psi"] = """
    WITH m AS (
        SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us
        FROM events
    ), b AS (
        SELECT least(CAST(floor(value / 50.0) AS INT), 9) AS bin,
               CASE WHEN epoch_us(ts) < (SELECT mid_us FROM m)
                    THEN 1 ELSE 0 END AS in_a
        FROM events
    ), t AS (
        SELECT CAST(sum(in_a) AS DOUBLE) AS tot_a,
               CAST(sum(1 - in_a) AS DOUBLE) AS tot_b
        FROM b
    ), g AS (
        SELECT bin,
               CAST(sum(in_a) AS BIGINT) AS n_a,
               CAST(sum(1 - in_a) AS BIGINT) AS n_b
        FROM b GROUP BY 1
    )
    SELECT bin, n_a, n_b,
           (CASE WHEN isnan(CAST((CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t)) AS DOUBLE)) OR abs(CAST((CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t)) ELSE floor((CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t)) * 1000000.0 + 0.5) / 1000000.0 END) AS share_a,
           (CASE WHEN isnan(CAST((CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t)) AS DOUBLE)) OR abs(CAST((CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t)) ELSE floor((CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t)) * 1000000.0 + 0.5) / 1000000.0 END) AS share_b,
           (CASE WHEN isnan(CAST(((greatest(CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t), 0.000001)
                - greatest(CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t), 0.000001))
               * ln(greatest(CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t), 0.000001)
                    / greatest(CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t), 0.000001))) AS DOUBLE)) OR abs(CAST(((greatest(CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t), 0.000001)
                - greatest(CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t), 0.000001))
               * ln(greatest(CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t), 0.000001)
                    / greatest(CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t), 0.000001))) AS DOUBLE)) >= 4611686018427.388 THEN ((greatest(CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t), 0.000001)
                - greatest(CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t), 0.000001))
               * ln(greatest(CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t), 0.000001)
                    / greatest(CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t), 0.000001))) ELSE floor(((greatest(CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t), 0.000001)
                - greatest(CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t), 0.000001))
               * ln(greatest(CAST(n_a AS DOUBLE) / (SELECT tot_a FROM t), 0.000001)
                    / greatest(CAST(n_b AS DOUBLE) / (SELECT tot_b FROM t), 0.000001))) * 1000000.0 + 0.5) / 1000000.0 END) AS psi_contrib
    FROM g
    """

ORACLES["collocation_pmi_top"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    nt AS (SELECT CAST(sum(len(toks)) AS DOUBLE) AS n_toks FROM t),
    uni AS (
        SELECT term, CAST(count(*) AS BIGINT) AS n FROM (
            SELECT unnest(toks) AS term FROM t
        ) GROUP BY 1
    ),
    pairs AS (
        SELECT toks[i] AS l, toks[i + d] AS r
        FROM t, (VALUES (1), (2)) AS dd(d),
             unnest(generate_series(1, len(toks) - d)) AS u(i)
    ),
    np AS (SELECT CAST(count(*) AS DOUBLE) AS n_pairs FROM pairs),
    pc AS (
        SELECT l, r, CAST(count(*) AS BIGINT) AS n_lr
        FROM pairs GROUP BY 1, 2 HAVING count(*) >= 10
    ),
    scored AS (
        SELECT pc.l, pc.r, pc.n_lr,
               (CASE WHEN isnan(CAST((ln((CAST(pc.n_lr AS DOUBLE) / (SELECT n_pairs FROM np))
                        / ((CAST(a.n AS DOUBLE) / (SELECT n_toks FROM nt))
                           * (CAST(b.n AS DOUBLE) / (SELECT n_toks FROM nt))))) AS DOUBLE)) OR abs(CAST((ln((CAST(pc.n_lr AS DOUBLE) / (SELECT n_pairs FROM np))
                        / ((CAST(a.n AS DOUBLE) / (SELECT n_toks FROM nt))
                           * (CAST(b.n AS DOUBLE) / (SELECT n_toks FROM nt))))) AS DOUBLE)) >= 4611686018427.388 THEN (ln((CAST(pc.n_lr AS DOUBLE) / (SELECT n_pairs FROM np))
                        / ((CAST(a.n AS DOUBLE) / (SELECT n_toks FROM nt))
                           * (CAST(b.n AS DOUBLE) / (SELECT n_toks FROM nt))))) ELSE floor((ln((CAST(pc.n_lr AS DOUBLE) / (SELECT n_pairs FROM np))
                        / ((CAST(a.n AS DOUBLE) / (SELECT n_toks FROM nt))
                           * (CAST(b.n AS DOUBLE) / (SELECT n_toks FROM nt))))) * 1000000.0 + 0.5) / 1000000.0 END) AS pmi
        FROM pc
        JOIN uni a ON pc.l = a.term
        JOIN uni b ON pc.r = b.term
    )
    SELECT l, r, n_lr, pmi,
           row_number() OVER (ORDER BY pmi DESC, l, r) AS rank
    FROM scored ORDER BY pmi DESC, l, r LIMIT 20
    """

ORACLES["debounce_events"] = """
    WITH o AS (
        SELECT event_id, user_id, event_type, ts, value,
               lag(ts) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
    )
    SELECT event_id, user_id, event_type, ts, value
    FROM o
    WHERE prev_ts IS NULL OR ts - prev_ts >= INTERVAL 5 SECOND
    """

ORACLES["holt_trend_forecast"] = """
    WITH RECURSIVE d AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ), seq AS (
        SELECT event_type,
               CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
                    AS BIGINT) AS rn,
               CAST(cents AS DOUBLE) / 100.0 AS x
        FROM d
    ), nn AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_obs
        FROM seq GROUP BY 1
    ), st AS (
        SELECT event_type, rn, x AS l, CAST(0.0 AS DOUBLE) AS b
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.event_type, q.rn,
               0.3 * q.x + 0.7 * (s.l + s.b),
               0.1 * ((0.3 * q.x + 0.7 * (s.l + s.b)) - s.l) + 0.9 * s.b
        FROM st s JOIN seq q
          ON q.event_type = s.event_type AND q.rn = s.rn + 1
    )
    SELECT st.event_type, nn.n_obs,
           (CASE WHEN isnan(CAST((st.l) AS DOUBLE)) OR abs(CAST((st.l) AS DOUBLE)) >= 4611686018427.388 THEN (st.l) ELSE floor((st.l) * 1000000.0 + 0.5) / 1000000.0 END) AS level,
           (CASE WHEN isnan(CAST((st.b) AS DOUBLE)) OR abs(CAST((st.b) AS DOUBLE)) >= 4611686018427.388 THEN (st.b) ELSE floor((st.b) * 1000000.0 + 0.5) / 1000000.0 END) AS trend,
           (CASE WHEN isnan(CAST((st.l + st.b) AS DOUBLE)) OR abs(CAST((st.l + st.b) AS DOUBLE)) >= 4611686018427.388 THEN (st.l + st.b) ELSE floor((st.l + st.b) * 1000000.0 + 0.5) / 1000000.0 END) AS forecast_1,
           (CASE WHEN isnan(CAST((st.l + 7.0 * st.b) AS DOUBLE)) OR abs(CAST((st.l + 7.0 * st.b) AS DOUBLE)) >= 4611686018427.388 THEN (st.l + 7.0 * st.b) ELSE floor((st.l + 7.0 * st.b) * 1000000.0 + 0.5) / 1000000.0 END) AS forecast_7
    FROM st JOIN nn ON st.event_type = nn.event_type AND st.rn = nn.n_obs
    """

ORACLES["dp_noisy_event_counts"] = """
    WITH g AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ), u AS (
        SELECT event_type, n,
               (CAST(CAST(concat('0x', substr(md5(event_type || 'dp1'), 1, 8))
                          AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS u
        FROM g
    )
    SELECT event_type,
           (CASE WHEN isnan(CAST((n + (-1.0 * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)))) AS DOUBLE)) OR abs(CAST((n + (-1.0 * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)))) AS DOUBLE)) >= 4611686018427.388 THEN (n + (-1.0 * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)))) ELSE floor((n + (-1.0 * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)))) * 1000000.0 + 0.5) / 1000000.0 END)
               AS noisy_count,
           1.0 AS epsilon
    FROM u
"""

ORACLES["ann_rerank_exact"] = f"""
    WITH ix AS (SELECT * FROM '{_AUX_DIR}/pq_index/*.parquet'),
    pr AS (SELECT * FROM '{_AUX_DIR}/ivfpq_probes/*.parquet'),
    lut AS (SELECT * FROM '{_AUX_DIR}/pq_luts/*.parquet'),
    adc AS (
        SELECT pr.query_id, ix.id AS neighbor_id,
               (CASE WHEN isnan(CAST((sum(lut.d2)) AS DOUBLE)) OR abs(CAST((sum(lut.d2)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(lut.d2)) ELSE floor((sum(lut.d2)) * 1000000.0 + 0.5) / 1000000.0 END) AS adc_dist
        FROM ix
        JOIN pr USING (cell)
        JOIN lut ON lut.query_id = pr.query_id
               AND lut.m = ix.m AND lut.code = ix.code
        WHERE ix.id <> pr.query_id
        GROUP BY 1, 2
    ),
    short AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS srank
        FROM adc
        QUALIFY srank <= 50
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (
        SELECT short.query_id, short.neighbor_id,
               (CASE WHEN isnan(CAST((list_dot_product(qe.v, ce.v)
                     / nullif(sqrt(list_dot_product(qe.v, qe.v))
                              * sqrt(list_dot_product(ce.v, ce.v)), 0)) AS DOUBLE)) OR abs(CAST((list_dot_product(qe.v, ce.v)
                     / nullif(sqrt(list_dot_product(qe.v, qe.v))
                              * sqrt(list_dot_product(ce.v, ce.v)), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (list_dot_product(qe.v, ce.v)
                     / nullif(sqrt(list_dot_product(qe.v, qe.v))
                              * sqrt(list_dot_product(ce.v, ce.v)), 0)) ELSE floor((list_dot_product(qe.v, ce.v)
                     / nullif(sqrt(list_dot_product(qe.v, qe.v))
                              * sqrt(list_dot_product(ce.v, ce.v)), 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS score
        FROM short JOIN e qe ON qe.vec_id = short.query_id
                   JOIN e ce ON ce.vec_id = short.neighbor_id
    )
    SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rank
    FROM s
    QUALIFY rank <= 10
    """

ORACLES["schema_evolution_read"] = f"""
    SELECT CAST(gen AS BIGINT) AS gen,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count_if(event_type IS NULL) AS BIGINT) AS n_null_type,
           (CASE WHEN isnan(CAST((CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0) AS DOUBLE)) OR abs(CAST((CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0) ELSE floor((CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0) * 1000000.0 + 0.5) / 1000000.0 END) AS total_value
    FROM read_parquet('{_AUX_DIR}/schema_evo/gen=*/*.parquet',
                      union_by_name=true, hive_partitioning=true)
    GROUP BY 1
"""

ORACLES["streaming_ann_index_maintain"] = f"""
    WITH ix AS (SELECT * FROM '{_AUX_DIR}/ivf_index_stream/*.parquet'),
    pr AS (SELECT * FROM '{_AUX_DIR}/ivf_probes_stream/*.parquet'),
    cand AS (
        SELECT pr.query_id, ix.id AS neighbor_id
        FROM ix JOIN pr USING (cell)
        WHERE ix.id <> pr.query_id
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (
        SELECT cand.query_id, cand.neighbor_id,
               (CASE WHEN isnan(CAST((list_dot_product(qe.v, ce.v)
                     / nullif(sqrt(list_dot_product(qe.v, qe.v))
                              * sqrt(list_dot_product(ce.v, ce.v)), 0)) AS DOUBLE)) OR abs(CAST((list_dot_product(qe.v, ce.v)
                     / nullif(sqrt(list_dot_product(qe.v, qe.v))
                              * sqrt(list_dot_product(ce.v, ce.v)), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (list_dot_product(qe.v, ce.v)
                     / nullif(sqrt(list_dot_product(qe.v, qe.v))
                              * sqrt(list_dot_product(ce.v, ce.v)), 0)) ELSE floor((list_dot_product(qe.v, ce.v)
                     / nullif(sqrt(list_dot_product(qe.v, qe.v))
                              * sqrt(list_dot_product(ce.v, ce.v)), 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS score
        FROM cand JOIN e qe ON qe.vec_id = cand.query_id
                  JOIN e ce ON ce.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rank
    FROM s
    QUALIFY rank <= 10
    """

ORACLES["mad_robust_outliers"] = """
    WITH med AS (
        SELECT event_type, (CASE WHEN isnan(CAST((quantile_cont(value, 0.5)) AS DOUBLE)) OR abs(CAST((quantile_cont(value, 0.5)) AS DOUBLE)) >= 461168601842738.8 THEN (quantile_cont(value, 0.5)) ELSE floor((quantile_cont(value, 0.5)) * 10000.0 + 0.5) / 10000.0 END) AS med
        FROM events GROUP BY 1
    ), dev AS (
        SELECT e.event_id, e.event_type, e.value, m.med,
               (CASE WHEN isnan(CAST((abs(e.value - m.med)) AS DOUBLE)) OR abs(CAST((abs(e.value - m.med)) AS DOUBLE)) >= 461168601842738.8 THEN (abs(e.value - m.med)) ELSE floor((abs(e.value - m.med)) * 10000.0 + 0.5) / 10000.0 END) AS absdev
        FROM events e JOIN med m USING (event_type)
    ), mad AS (
        SELECT event_type, (CASE WHEN isnan(CAST((quantile_cont(absdev, 0.5)) AS DOUBLE)) OR abs(CAST((quantile_cont(absdev, 0.5)) AS DOUBLE)) >= 461168601842738.8 THEN (quantile_cont(absdev, 0.5)) ELSE floor((quantile_cont(absdev, 0.5)) * 10000.0 + 0.5) / 10000.0 END) AS mad
        FROM dev GROUP BY 1
    )
    SELECT d.event_id, d.event_type, d.value, d.med, mad.mad,
           (CASE WHEN isnan(CAST((d.absdev / nullif(1.4826 * mad.mad, 0)) AS DOUBLE)) OR abs(CAST((d.absdev / nullif(1.4826 * mad.mad, 0)) AS DOUBLE)) >= 4611686018427.388 THEN (d.absdev / nullif(1.4826 * mad.mad, 0)) ELSE floor((d.absdev / nullif(1.4826 * mad.mad, 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS modified_z
    FROM dev d JOIN mad USING (event_type)
    WHERE (CASE WHEN isnan(CAST((d.absdev / nullif(1.4826 * mad.mad, 0)) AS DOUBLE)) OR abs(CAST((d.absdev / nullif(1.4826 * mad.mad, 0)) AS DOUBLE)) >= 4611686018427.388 THEN (d.absdev / nullif(1.4826 * mad.mad, 0)) ELSE floor((d.absdev / nullif(1.4826 * mad.mad, 0)) * 1000000.0 + 0.5) / 1000000.0 END) > 3.5
"""

ORACLES["near_dup_incremental_batch"] = f"""
    WITH cx AS (SELECT * FROM '{_AUX_DIR}/minhash_corpus_index/*.parquet'),
    bx AS (SELECT * FROM '{_AUX_DIR}/minhash_batch_index/*.parquet'),
    cb AS (
        SELECT id, u.band_idx AS band_idx, u.band_hash AS band_hash
        FROM (SELECT id, unnest(bands) AS u FROM cx)
    ),
    bb AS (
        SELECT id, u.band_idx AS band_idx, u.band_hash AS band_hash
        FROM (SELECT id, unnest(bands) AS u FROM bx)
    ),
    cand AS (
        SELECT DISTINCT bb.id AS batch_id, cb.id AS corpus_id
        FROM bb JOIN cb USING (band_idx, band_hash)
    ),
    scored AS (
        SELECT c.batch_id, c.corpus_id,
               (CASE WHEN isnan(CAST((CAST(len(list_distinct(list_intersect(sb.sh, sc.sh))) AS DOUBLE)
                     / nullif(len(list_distinct(list_concat(sb.sh, sc.sh))), 0)) AS DOUBLE)) OR abs(CAST((CAST(len(list_distinct(list_intersect(sb.sh, sc.sh))) AS DOUBLE)
                     / nullif(len(list_distinct(list_concat(sb.sh, sc.sh))), 0)) AS DOUBLE)) >= 461168601842738.8 THEN (CAST(len(list_distinct(list_intersect(sb.sh, sc.sh))) AS DOUBLE)
                     / nullif(len(list_distinct(list_concat(sb.sh, sc.sh))), 0)) ELSE floor((CAST(len(list_distinct(list_intersect(sb.sh, sc.sh))) AS DOUBLE)
                     / nullif(len(list_distinct(list_concat(sb.sh, sc.sh))), 0)) * 10000.0 + 0.5) / 10000.0 END)
                   AS jaccard
        FROM cand c JOIN bx sb ON sb.id = c.batch_id
                    JOIN cx sc ON sc.id = c.corpus_id
    )
    SELECT batch_id, corpus_id, jaccard FROM scored WHERE jaccard >= 0.5
"""

ORACLES["hard_negative_mining"] = """
    WITH q AS (
        SELECT vec_id AS query_id, label AS q_label,
               CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
    ), c AS (
        SELECT vec_id AS neighbor_id, label AS n_label,
               CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    ), scored AS (
        SELECT query_id, q_label, neighbor_id, n_label,
               (CASE WHEN isnan(CAST((list_dot_product(qv, cv)
                     / nullif(sqrt(list_dot_product(qv, qv))
                              * sqrt(list_dot_product(cv, cv)), 0)) AS DOUBLE)) OR abs(CAST((list_dot_product(qv, cv)
                     / nullif(sqrt(list_dot_product(qv, qv))
                              * sqrt(list_dot_product(cv, cv)), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (list_dot_product(qv, cv)
                     / nullif(sqrt(list_dot_product(qv, qv))
                              * sqrt(list_dot_product(cv, cv)), 0)) ELSE floor((list_dot_product(qv, cv)
                     / nullif(sqrt(list_dot_product(qv, qv))
                              * sqrt(list_dot_product(cv, cv)), 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS score
        FROM q JOIN c ON query_id <> neighbor_id AND q_label <> n_label
    )
    SELECT query_id, q_label, neighbor_id, n_label, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rank
    FROM scored
    QUALIFY rank <= 5
"""

ORACLES["groupwise_leakage_safe_split"] = """
    WITH s AS (
        SELECT user_id, event_id,
               CASE WHEN b < 0.8 * 256.0 THEN 'train'
                    WHEN b < (0.8 + 0.1) * 256.0 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT user_id, event_id,
                   CAST((instr('0123456789abcdef',
                               substr(md5(CAST(user_id AS VARCHAR) || 'usersplit'), 1, 1)) - 1) * 16
                        + (instr('0123456789abcdef',
                                 substr(md5(CAST(user_id AS VARCHAR) || 'usersplit'), 2, 1)) - 1)
                        AS DOUBLE) AS b
            FROM events
        )
    ),
    per_split AS (
        SELECT split, CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM s GROUP BY 1
    ),
    leaky AS (
        SELECT CAST(coalesce(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_leaky_users
        FROM (SELECT user_id, count(DISTINCT split) AS ns FROM s GROUP BY 1)
    )
    SELECT split, n_events, n_users, n_leaky_users FROM per_split CROSS JOIN leaky
"""

ORACLES["negative_sampling_recsys"] = """
    WITH inter AS (
        SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS item
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    users AS (SELECT DISTINCT u FROM inter),
    n AS (SELECT count(*) AS n_items FROM part),
    cand AS (
        SELECT u, slot,
               CAST(concat('0x', substr(md5(CAST(u AS VARCHAR) || '-'
                           || CAST(slot AS VARCHAR) || '-neg'), 1, 8))
                    AS BIGINT) % (SELECT n_items FROM n) + 1 AS item
        FROM users, unnest(generate_series(1, 14)) AS t(slot)
    ),
    neg AS (
        -- probes colliding onto one item dedupe to the lowest slot, so
        -- the k negatives are k DISTINCT items
        SELECT c.u, min(c.slot) AS slot, c.item
        FROM cand c ANTI JOIN inter i ON c.u = i.u AND c.item = i.item
        GROUP BY c.u, c.item
    )
    SELECT u AS user_id,
           CAST(row_number() OVER (PARTITION BY u ORDER BY slot) AS BIGINT)
               AS rank,
           item
    FROM neg
    QUALIFY rank <= 5
"""

ORACLES["twap_daily_value"] = """
    WITH b AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CAST(epoch_us(coalesce(
                   lead(ts) OVER (PARTITION BY event_type, date_trunc('day', ts)
                                  ORDER BY ts, event_id),
                   CAST(date_trunc('day', ts) + INTERVAL 1 DAY AS TIMESTAMP)
               )) - epoch_us(ts) AS BIGINT) AS secs
        FROM events
        WHERE value IS NOT NULL
    )
    SELECT event_type, day,
           CAST(count(*) AS BIGINT) AS n_obs,
           (CASE WHEN isnan(CAST((CAST(sum(cents * secs) AS DOUBLE) / 100.0
                 / nullif(CAST(sum(secs) AS DOUBLE), 0)) AS DOUBLE)) OR abs(CAST((CAST(sum(cents * secs) AS DOUBLE) / 100.0
                 / nullif(CAST(sum(secs) AS DOUBLE), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(cents * secs) AS DOUBLE) / 100.0
                 / nullif(CAST(sum(secs) AS DOUBLE), 0)) ELSE floor((CAST(sum(cents * secs) AS DOUBLE) / 100.0
                 / nullif(CAST(sum(secs) AS DOUBLE), 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS twap
    FROM b GROUP BY 1, 2
"""

ORACLES["ctfidf_distinctive_terms"] = f"""
    WITH t AS (
        SELECT lang AS cls, unnest({_TOKS}) AS term FROM documents
    ),
    tfc AS (
        SELECT cls, term, CAST(count(*) AS BIGINT) AS tf
        FROM t GROUP BY 1, 2
    ),
    ft AS (SELECT term, CAST(count(*) AS BIGINT) AS f_term FROM t GROUP BY 1),
    tokc AS (SELECT cls, CAST(count(*) AS BIGINT) AS toks FROM t GROUP BY 1),
    scal AS (
        SELECT CAST(count(*) AS DOUBLE) AS tot,
               CAST(count(DISTINCT cls) AS DOUBLE) AS ncls
        FROM t
    ),
    scored AS (
        SELECT tfc.cls, tfc.term, tfc.tf,
               (CASE WHEN isnan(CAST(((CAST(tfc.tf AS DOUBLE) / tokc.toks)
                     * ln(1.0 + (scal.tot / scal.ncls) / ft.f_term)) AS DOUBLE)) OR abs(CAST(((CAST(tfc.tf AS DOUBLE) / tokc.toks)
                     * ln(1.0 + (scal.tot / scal.ncls) / ft.f_term)) AS DOUBLE)) >= 4611686018427.388 THEN ((CAST(tfc.tf AS DOUBLE) / tokc.toks)
                     * ln(1.0 + (scal.tot / scal.ncls) / ft.f_term)) ELSE floor(((CAST(tfc.tf AS DOUBLE) / tokc.toks)
                     * ln(1.0 + (scal.tot / scal.ncls) / ft.f_term)) * 1000000.0 + 0.5) / 1000000.0 END) AS score
        FROM tfc
        JOIN ft USING (term)
        JOIN tokc USING (cls)
        CROSS JOIN scal
        WHERE tfc.tf >= 5
    )
    SELECT cls AS lang, term, tf, score,
           CAST(row_number() OVER (PARTITION BY cls
                                   ORDER BY score DESC, term) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 5
"""


ORACLES["proration_largest_remainder"] = """
    WITH d AS (
        SELECT l.l_orderkey, l.l_linenumber,
               CAST(round(l.l_extendedprice * 100) AS BIGINT) AS w_c,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS t_c
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), s AS (
        SELECT *, sum(w_c) OVER (PARTITION BY l_orderkey) AS sum_w FROM d
    ), r AS (
        SELECT l_orderkey, l_linenumber, t_c,
               (t_c * w_c) // sum_w AS base,
               (t_c * w_c) % sum_w AS rem
        FROM s WHERE sum_w > 0
    ), k AS (
        SELECT *,
               t_c - sum(base) OVER (PARTITION BY l_orderkey) AS short,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY rem DESC, l_linenumber) AS rnk
        FROM r
    )
    SELECT l_orderkey, l_linenumber,
           CAST(base + CASE WHEN rnk <= short THEN 1 ELSE 0 END AS BIGINT)
               AS alloc_cents
    FROM k
    """

# Poisson-bootstrap weight SQL is generated beside the Spark thresholds
# (operators/resample.py) so both engines share ONE integer cutoff
# table and ONE digest layout (8 draws per md5).
from finance_reporting_etl_spark.operators.resample import (  # noqa: E402
    bootstrap_weight_sql as _boot_w,
)

ORACLES["poisson_bootstrap_ci"] = f"""
    WITH grp AS (SELECT unnest(generate_series(0, 7)) AS g),
    chunk AS (SELECT unnest(generate_series(0, 7)) AS c),
    rws AS (
        SELECT grp.g * 8 + chunk.c AS b,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               {_boot_w("CAST(o_orderkey AS VARCHAR)", "grp.g", "chunk.c")} AS w
        FROM orders CROSS JOIN grp CROSS JOIN chunk
    ),
    m AS (
        SELECT b,
               CAST(sum(w) AS BIGINT) AS n_eff,
               CAST(sum(w * cents) AS BIGINT)
                   / nullif(CAST(sum(w) AS BIGINT), 0) / 100.0 AS mean_value
        FROM rws GROUP BY b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_replicates,
           (CASE WHEN isnan(CAST((quantile_cont(mean_value, 0.025)) AS DOUBLE)) OR abs(CAST((quantile_cont(mean_value, 0.025)) AS DOUBLE)) >= 461168601842738.8 THEN (quantile_cont(mean_value, 0.025)) ELSE floor((quantile_cont(mean_value, 0.025)) * 10000.0 + 0.5) / 10000.0 END) AS ci_lo,
           (CASE WHEN isnan(CAST((quantile_cont(mean_value, 0.975)) AS DOUBLE)) OR abs(CAST((quantile_cont(mean_value, 0.975)) AS DOUBLE)) >= 461168601842738.8 THEN (quantile_cont(mean_value, 0.975)) ELSE floor((quantile_cont(mean_value, 0.975)) * 10000.0 + 0.5) / 10000.0 END) AS ci_hi,
           (CASE WHEN isnan(CAST((avg(mean_value)) AS DOUBLE)) OR abs(CAST((avg(mean_value)) AS DOUBLE)) >= 461168601842738.8 THEN (avg(mean_value)) ELSE floor((avg(mean_value)) * 10000.0 + 0.5) / 10000.0 END) AS boot_mean
    FROM m
    """

# Morton-key SQL is generated beside the Spark bit expression
# (operators/scale.py) so both engines interleave the same term table.
from finance_reporting_etl_spark.operators.scale import (  # noqa: E402
    zorder_sql as _zorder_sql,
)

ORACLES["zorder_locality_stats"] = f"""
    WITH b AS (
        SELECT min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
               min(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS min_d,
               max(CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS max_d
        FROM orders
    ), s AS (
        SELECT o_orderkey, o_custkey,
               CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
               ((o_custkey - b.min_ck) * 256) // (b.max_ck - b.min_ck + 1) AS x,
               ((CAST(o_orderdate AS DATE) - DATE '1970-01-01' - b.min_d) * 256)
                   // (b.max_d - b.min_d + 1) AS y
        FROM orders CROSS JOIN b
    ), z AS (
        SELECT o_orderkey, o_custkey, d,
               {_zorder_sql('x', 'y', 8)} AS zval
        FROM s
    ), f AS (
        SELECT *, ntile(16) OVER (ORDER BY zval, o_orderkey) AS file_id FROM z
    )
    SELECT CAST(file_id AS INT) AS file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(o_custkey) AS BIGINT) AS min_ck,
           CAST(max(o_custkey) AS BIGINT) AS max_ck,
           min(d) AS min_day,
           max(d) AS max_day
    FROM f GROUP BY file_id
    """

ORACLES["bucketed_join_rollup"] = """
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           (CASE WHEN isnan(CAST((CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                     * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0) AS DOUBLE)) OR abs(CAST((CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                     * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN (CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                     * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0) ELSE floor((CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                                     * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0) * 100.0 + 0.5) / 100.0 END) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """

ORACLES["jaccard_prefix_filter_pairs"] = f"""
    WITH t AS (
        SELECT doc_id AS id, list_distinct({_TOKS}) AS toks,
               len(list_distinct({_TOKS})) AS n
        FROM documents
        WHERE len(list_distinct({_TOKS})) > 0
    ), tt AS (
        SELECT id, n, unnest(toks) AS tok FROM t
    ), dfreq AS (
        SELECT tok, count(*) AS n_df FROM tt GROUP BY tok
    ), pref AS (
        SELECT id, n, tok
        FROM (
            SELECT tt.id, tt.n, tt.tok,
                   row_number() OVER (PARTITION BY tt.id
                                      ORDER BY d.n_df, tt.tok) AS rnk
            FROM tt JOIN dfreq d USING (tok)
        )
        WHERE rnk <= n - ceil(n * 0.6) + 1
    ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM pref a JOIN pref b
          ON a.tok = b.tok AND a.id < b.id
         AND b.n >= ceil(a.n * 0.6) AND a.n >= ceil(b.n * 0.6)
    ), v AS (
        -- threshold on the TRUE ratio (rounded only for display):
        -- candidate recall is guaranteed only for true J >= t
        SELECT c.id_a, c.id_b,
               len(list_intersect(ta.toks, tb.toks))
                   / CAST(ta.n + tb.n - len(list_intersect(ta.toks, tb.toks))
                          AS DOUBLE) AS j_true
        FROM cand c
        JOIN t ta ON ta.id = c.id_a
        JOIN t tb ON tb.id = c.id_b
    )
    SELECT id_a, id_b, (CASE WHEN isnan(CAST((j_true) AS DOUBLE)) OR abs(CAST((j_true) AS DOUBLE)) >= 461168601842738.8 THEN (j_true) ELSE floor((j_true) * 10000.0 + 0.5) / 10000.0 END) AS jaccard FROM v WHERE j_true >= 0.6
    """

ORACLES["indicator_max_drawdown"] = """
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ), p AS (
        SELECT *, max(cents) OVER (PARTITION BY event_type ORDER BY day
                                   ROWS UNBOUNDED PRECEDING) AS peak
        FROM d WHERE cents IS NOT NULL
    ), dd AS (
        SELECT event_type, day, cents, peak,
               (CASE WHEN isnan(CAST((1.0 - cents / CAST(peak AS DOUBLE)) AS DOUBLE)) OR abs(CAST((1.0 - cents / CAST(peak AS DOUBLE)) AS DOUBLE)) >= 4611686018427.388 THEN (1.0 - cents / CAST(peak AS DOUBLE)) ELSE floor((1.0 - cents / CAST(peak AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 END) AS ddown
        FROM p WHERE peak > 0
    ), r AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY ddown DESC, day) AS rn
        FROM dd
    )
    SELECT event_type, ddown AS max_drawdown, day AS trough_at,
           cents AS trough_value_cents, peak AS peak_value_cents
    FROM r WHERE rn = 1
    """

ORACLES["cusum_alarm_days"] = """
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ), k AS (
        SELECT event_type,
               CAST(sum(cents) AS BIGINT) // count(*) AS kc,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s1,
               CAST(sum(cents * cents) AS BIGINT) AS s2
        FROM d WHERE cents IS NOT NULL GROUP BY event_type
    ), ks AS (
        SELECT event_type, kc,
               sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / n AS sd
        FROM k
    ), s AS (
        SELECT d.event_type, d.day, d.cents - ks.kc AS delta, ks.sd
        FROM d JOIN ks USING (event_type) WHERE d.cents IS NOT NULL
    ), c1 AS (
        SELECT event_type, day, sd,
               sum(delta) OVER (PARTITION BY event_type ORDER BY day
                                ROWS UNBOUNDED PRECEDING) AS p
        FROM s
    ), c AS (
        SELECT event_type, day, sd, p,
               min(p) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS minp
        FROM c1
    )
    SELECT event_type, day,
           CAST(p - least(CAST(0 AS BIGINT), minp) AS BIGINT) AS cusum_cents
    FROM c
    WHERE p - least(CAST(0 AS BIGINT), minp) > 4 * sd
    """

ORACLES["benford_first_digit"] = """
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                           1, 1) AS INT) AS digit
        FROM orders WHERE o_totalprice >= 1
    ), counts AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
    ), g AS (
        -- full 1-9 spine: absent digits must contribute their
        -- (0 - total*share)^2 chi2 term (r5 review)
        SELECT CAST(s.digit AS INTEGER) AS digit,
               CAST(coalesce(counts.n, 0) AS BIGINT) AS n
        FROM (SELECT CAST(unnest(generate_series(1, 9)) AS INTEGER) AS digit) s
        LEFT JOIN counts USING (digit)
    ), t AS (
        SELECT digit, n,
               sum(n) OVER () AS total,
               (CASE WHEN isnan(CAST((log10(1 + 1.0 / digit)) AS DOUBLE)) OR abs(CAST((log10(1 + 1.0 / digit)) AS DOUBLE)) >= 4611686018427.388 THEN (log10(1 + 1.0 / digit)) ELSE floor((log10(1 + 1.0 / digit)) * 1000000.0 + 0.5) / 1000000.0 END) AS benford_share
        FROM g
    )
    SELECT digit, n,
           (CASE WHEN isnan(CAST((n / CAST(total AS DOUBLE)) AS DOUBLE)) OR abs(CAST((n / CAST(total AS DOUBLE)) AS DOUBLE)) >= 4611686018427.388 THEN (n / CAST(total AS DOUBLE)) ELSE floor((n / CAST(total AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 END) AS obs_share,
           benford_share,
           (CASE WHEN isnan(CAST((sum(pow(n - total * benford_share, 2)
                     / (total * benford_share)) OVER ()) AS DOUBLE)) OR abs(CAST((sum(pow(n - total * benford_share, 2)
                     / (total * benford_share)) OVER ()) AS DOUBLE)) >= 461168601842738.8 THEN (sum(pow(n - total * benford_share, 2)
                     / (total * benford_share)) OVER ()) ELSE floor((sum(pow(n - total * benford_share, 2)
                     / (total * benford_share)) OVER ()) * 10000.0 + 0.5) / 10000.0 END) AS chi2_stat
    FROM t
    """

ORACLES["ohlc_daily_bars"] = """
    WITH e AS (
        SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
    ), r AS (
        SELECT *,
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY ts, event_id) AS ra,
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY ts DESC, event_id DESC) AS rd
        FROM e
    )
    SELECT event_type, day,
           CAST(max(CASE WHEN ra = 1 THEN cents END) AS BIGINT) AS open_cents,
           CAST(max(cents) AS BIGINT) AS high_cents,
           CAST(min(cents) AS BIGINT) AS low_cents,
           CAST(max(CASE WHEN rd = 1 THEN cents END) AS BIGINT) AS close_cents,
           CAST(count(*) AS BIGINT) AS n_ticks
    FROM r GROUP BY 1, 2
    """

ORACLES["indicator_lead_lag_corr"] = """
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
        HAVING sum(CAST(round(value * 100) AS BIGINT)) IS NOT NULL
    ), lags AS (SELECT unnest(generate_series(-3, 3)) AS lag),
    b AS (
        SELECT d.event_type AS kb,
               d.day + CAST(lags.lag AS INTEGER) AS day,
               d.cents AS y, lags.lag
        FROM d CROSS JOIN lags
    ), g AS (
        SELECT a.event_type AS series_a, b.kb AS series_b, b.lag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a.cents) AS BIGINT) AS sx,
               CAST(sum(b.y) AS BIGINT) AS sy,
               CAST(sum(a.cents * a.cents) AS BIGINT) AS sxx,
               CAST(sum(b.y * b.y) AS BIGINT) AS syy,
               CAST(sum(a.cents * b.y) AS BIGINT) AS sxy
        FROM d a JOIN b ON a.day = b.day AND a.event_type < b.kb
        GROUP BY 1, 2, 3
        HAVING count(*) >= 10
    ), scored AS (
        SELECT series_a, series_b, lag, n AS n_days,
               (CASE WHEN isnan(CAST((CAST(n * sxy - sx * sy AS DOUBLE)
                     / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0)) AS DOUBLE)) OR abs(CAST((CAST(n * sxy - sx * sy AS DOUBLE)
                     / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(n * sxy - sx * sy AS DOUBLE)
                     / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0)) ELSE floor((CAST(n * sxy - sx * sy AS DOUBLE)
                     / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0)) * 1000000.0 + 0.5) / 1000000.0 END) AS corr
        FROM g
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY series_a, series_b
                                     ORDER BY corr DESC, lag) AS rn
        FROM scored WHERE corr IS NOT NULL
    )
    SELECT series_a, series_b, lag, n_days, corr FROM ranked WHERE rn = 1
    """

def _tok_b256(salt: str) -> str:
    """b256 of the TOKEN (md5_bucket twin keyed on tok, not doc_id)."""
    h = f"md5(tok || '{salt}')"
    return (
        f"((instr('0123456789abcdef', substr({h}, 1, 1)) - 1) * 16"
        f" + (instr('0123456789abcdef', substr({h}, 2, 1)) - 1))"
    )

ORACLES["feature_hash_bow"] = f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ), h AS (
        SELECT doc_id,
               CAST({_tok_b256("feathash")} % 32 AS INTEGER) AS dim,
               CAST(({_tok_b256("feathashsign")} % 2) * 2 - 1 AS BIGINT) AS sign
        FROM tok
    )
    SELECT doc_id, dim, CAST(sum(sign) AS BIGINT) AS weight
    FROM h GROUP BY 1, 2 HAVING sum(sign) <> 0
    """

ORACLES["series_volatility"] = """
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
        HAVING sum(CAST(round(value * 100) AS BIGINT)) IS NOT NULL
    ), r AS (
        SELECT event_type, cents,
               lag(cents) OVER (PARTITION BY event_type ORDER BY day) AS prev
        FROM d WHERE cents > 0
    ), lr AS (
        SELECT event_type, (CASE WHEN isnan(CAST((ln(cents / CAST(prev AS DOUBLE))) AS DOUBLE)) OR abs(CAST((ln(cents / CAST(prev AS DOUBLE))) AS DOUBLE)) >= 4611686018427.388 THEN (ln(cents / CAST(prev AS DOUBLE))) ELSE floor((ln(cents / CAST(prev AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 END) AS lr
        FROM r WHERE prev > 0
    ), g AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_rets,
               sum(lr) AS s1, sum(lr * lr) AS s2
        FROM lr GROUP BY 1 HAVING count(*) >= 2
    )
    SELECT event_type, n_rets,
           (CASE WHEN isnan(CAST((s1 / n_rets) AS DOUBLE)) OR abs(CAST((s1 / n_rets) AS DOUBLE)) >= 4611686018427.388 THEN (s1 / n_rets) ELSE floor((s1 / n_rets) * 1000000.0 + 0.5) / 1000000.0 END) AS mean_logret,
           (CASE WHEN isnan(CAST((sqrt(greatest((n_rets * s2 - s1 * s1)
                               / (n_rets * (n_rets - 1.0)), 0.0))) AS DOUBLE)) OR abs(CAST((sqrt(greatest((n_rets * s2 - s1 * s1)
                               / (n_rets * (n_rets - 1.0)), 0.0))) AS DOUBLE)) >= 4611686018427.388 THEN (sqrt(greatest((n_rets * s2 - s1 * s1)
                               / (n_rets * (n_rets - 1.0)), 0.0))) ELSE floor((sqrt(greatest((n_rets * s2 - s1 * s1)
                               / (n_rets * (n_rets - 1.0)), 0.0))) * 1000000.0 + 0.5) / 1000000.0 END) AS vol_daily,
           (CASE WHEN isnan(CAST((sqrt(greatest((n_rets * s2 - s1 * s1)
                               / (n_rets * (n_rets - 1.0)), 0.0))
                 * sqrt(252.0)) AS DOUBLE)) OR abs(CAST((sqrt(greatest((n_rets * s2 - s1 * s1)
                               / (n_rets * (n_rets - 1.0)), 0.0))
                 * sqrt(252.0)) AS DOUBLE)) >= 4611686018427.388 THEN (sqrt(greatest((n_rets * s2 - s1 * s1)
                               / (n_rets * (n_rets - 1.0)), 0.0))
                 * sqrt(252.0)) ELSE floor((sqrt(greatest((n_rets * s2 - s1 * s1)
                               / (n_rets * (n_rets - 1.0)), 0.0))
                 * sqrt(252.0)) * 1000000.0 + 0.5) / 1000000.0 END) AS vol_annual
    FROM g
    """

# MMR oracle: unrolled k-step CTE twin generated beside the Spark
# greedy (operators/similarity.py) over the same persisted aux tables.
from finance_reporting_etl_spark.operators.similarity import (  # noqa: E402
    mmr_oracle_sql as _mmr_sql,
)

ORACLES["mmr_diversified_rerank"] = _mmr_sql(
    f"{_AUX_DIR}/mmr_shortlist/*.parquet",
    f"{_AUX_DIR}/mmr_pair_sims/*.parquet",
    k=5, lam=0.7, mu=0.3,
)

ORACLES["ks_value_drift"] = """
    WITH b AS (
        SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
        FROM events WHERE value IS NOT NULL
    ), r AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CASE WHEN epoch_us(ts) <= b.mid THEN 1 ELSE 2 END AS grp
        FROM events CROSS JOIN b WHERE value IS NOT NULL
    ), counts AS (
        SELECT event_type, cents,
               CAST(count_if(grp = 1) AS BIGINT) AS c1,
               CAST(count_if(grp = 2) AS BIGINT) AS c2
        FROM r GROUP BY 1, 2
    ), cum AS (
        SELECT event_type,
               sum(c1) OVER (PARTITION BY event_type ORDER BY cents
                             ROWS UNBOUNDED PRECEDING) AS a1,
               sum(c2) OVER (PARTITION BY event_type ORDER BY cents
                             ROWS UNBOUNDED PRECEDING) AS a2,
               sum(c1) OVER (PARTITION BY event_type) AS n1,
               sum(c2) OVER (PARTITION BY event_type) AS n2
        FROM counts
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           (CASE WHEN isnan(CAST((max(abs(a1 / CAST(n1 AS DOUBLE) - a2 / CAST(n2 AS DOUBLE)))) AS DOUBLE)) OR abs(CAST((max(abs(a1 / CAST(n1 AS DOUBLE) - a2 / CAST(n2 AS DOUBLE)))) AS DOUBLE)) >= 4611686018427.388 THEN (max(abs(a1 / CAST(n1 AS DOUBLE) - a2 / CAST(n2 AS DOUBLE)))) ELSE floor((max(abs(a1 / CAST(n1 AS DOUBLE) - a2 / CAST(n2 AS DOUBLE)))) * 1000000.0 + 0.5) / 1000000.0 END)
               AS ks_stat
    FROM cum WHERE n1 > 0 AND n2 > 0
    GROUP BY 1, 2, 3
    """

ORACLES["fifo_realized_pnl"] = """
    WITH li AS (
        SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber, l_returnflag,
               CAST(round(l_quantity) AS BIGINT) AS qty,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS total
        FROM lineitem
    ), b AS (
        SELECT l_partkey, qty, total,
               sum(qty) OVER w AS bend, sum(qty) OVER w - qty AS bstart
        FROM li WHERE l_returnflag = 'N'
        WINDOW w AS (PARTITION BY l_partkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS UNBOUNDED PRECEDING)
    ), s AS (
        SELECT l_partkey, qty, total,
               sum(qty) OVER w AS send, sum(qty) OVER w - qty AS sstart
        FROM li WHERE l_returnflag = 'R'
        WINDOW w AS (PARTITION BY l_partkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS UNBOUNDED PRECEDING)
    ), m AS (
        SELECT b.l_partkey,
               least(b.bend, s.send) - greatest(b.bstart, s.sstart) AS mq,
               b.qty AS bq, b.total AS bt, s.qty AS sq, s.total AS st
        FROM b JOIN s ON b.l_partkey = s.l_partkey
                     AND b.bstart < s.send AND s.sstart < b.bend
    )
    SELECT l_partkey,
           CAST(sum(mq) AS BIGINT) AS matched_qty,
           CAST(sum((mq * st) // sq - (mq * bt) // bq) AS BIGINT)
               AS realized_pnl_cents
    FROM m GROUP BY 1
    """

ORACLES["position_based_attribution"] = """
    WITH pur AS (
        SELECT event_id AS p_id, user_id,
               epoch_us(ts) - 604800000000 AS lo, epoch_us(ts) AS hi,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ), v AS (
        SELECT user_id, epoch_us(ts) AS t, event_id AS v_id
        FROM events WHERE event_type = 'view'
    ), hits AS (
        SELECT p.p_id, p.cents, v.t, v.v_id
        FROM v JOIN pur p ON v.user_id = p.user_id
                         AND v.t >= p.lo AND v.t < p.hi
    ), pos AS (
        SELECT p_id, cents, t, v_id,
               count(*) OVER (PARTITION BY p_id) AS n,
               row_number() OVER (PARTITION BY p_id ORDER BY t, v_id) AS rn
        FROM hits
    ), wtd AS (
        -- U-shaped (position-based) credit: 40% first, 40% last, 20%
        -- split over the middle == integer weights 2(n-2):1...:2(n-2)
        SELECT p_id, cents, t, v_id, rn,
               CAST(CASE WHEN n <= 2 THEN 1
                         WHEN rn = 1 OR rn = n THEN 2 * (n - 2)
                         ELSE 1 END AS BIGINT) AS w
        FROM pos
    ), alloc AS (
        SELECT p_id, v_id, rn, cents, w,
               sum(w) OVER (PARTITION BY p_id) AS sum_w
        FROM wtd
    ), base AS (
        SELECT p_id, v_id, rn, cents,
               (cents * w) // sum_w AS b, (cents * w) % sum_w AS rem
        FROM alloc WHERE sum_w > 0
    ), fin AS (
        SELECT p_id, v_id, rn, b,
               cents - sum(b) OVER (PARTITION BY p_id) AS short,
               row_number() OVER (PARTITION BY p_id ORDER BY rem DESC, rn) AS rr
        FROM base
    )
    SELECT p_id AS purchase_id, v_id AS view_id, CAST(rn AS BIGINT) AS position,
           CAST(b + CASE WHEN rr <= short THEN 1 ELSE 0 END AS BIGINT)
               AS credit_cents
    FROM fin
    """

ORACLES["quantile_transform_feature"] = """
    WITH r AS (
        SELECT o_orderkey,
               rank() OVER (ORDER BY o_totalprice, o_orderkey) AS rnk,
               count(*) OVER () AS n
        FROM orders
    )
    SELECT o_orderkey,
           (CASE WHEN isnan(CAST(((rnk - 1) / CAST(n - 1 AS DOUBLE)) AS DOUBLE)) OR abs(CAST(((rnk - 1) / CAST(n - 1 AS DOUBLE)) AS DOUBLE)) >= 4611686018427.388 THEN ((rnk - 1) / CAST(n - 1 AS DOUBLE)) ELSE floor(((rnk - 1) / CAST(n - 1 AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 END) AS pct
    FROM r
    """

ORACLES["theil_sen_trend"] = """
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
        HAVING sum(CAST(round(value * 100) AS BIGINT)) IS NOT NULL
    ), p AS (
        SELECT a.event_type,
               (b.cents - a.cents)
                   / CAST(b.day - a.day AS DOUBLE) AS slope
        FROM d a JOIN d b
          ON a.event_type = b.event_type AND a.day < b.day
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           (CASE WHEN isnan(CAST((quantile_cont(slope, 0.5)) AS DOUBLE)) OR abs(CAST((quantile_cont(slope, 0.5)) AS DOUBLE)) >= 4611686018427.388 THEN (quantile_cont(slope, 0.5)) ELSE floor((quantile_cont(slope, 0.5)) * 1000000.0 + 0.5) / 1000000.0 END) AS sen_slope_cents_per_day
    FROM p GROUP BY 1
    """

# ideal DCG@10 for binary relevance, printed from the same python
# constant the Spark side embeds (sum_{r=1..10} 1/log2(r+1))
_IDEAL_DCG10 = 4.543559338088346

ORACLES["ann_recall_ndcg_eval"] = f"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
    ), c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    ), scored AS (
        SELECT query_id, neighbor_id,
               (CASE WHEN isnan(CAST((list_dot_product(qv, cv)
                     / nullif(sqrt(list_dot_product(qv, qv))
                              * sqrt(list_dot_product(cv, cv)), 0)) AS DOUBLE)) OR abs(CAST((list_dot_product(qv, cv)
                     / nullif(sqrt(list_dot_product(qv, qv))
                              * sqrt(list_dot_product(cv, cv)), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (list_dot_product(qv, cv)
                     / nullif(sqrt(list_dot_product(qv, qv))
                              * sqrt(list_dot_product(cv, cv)), 0)) ELSE floor((list_dot_product(qv, cv)
                     / nullif(sqrt(list_dot_product(qv, qv))
                              * sqrt(list_dot_product(cv, cv)), 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS score
        FROM c, q WHERE query_id <> neighbor_id
    ), truth AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, neighbor_id) AS rnk
            FROM scored) WHERE rnk <= 10
    ), a AS (
        SELECT * FROM '{_AUX_DIR}/ann_eval_approx/*.parquet'
    ), h AS (
        SELECT a.query_id, a.rank
        FROM a JOIN truth tr
          ON tr.query_id = a.query_id AND tr.neighbor_id = a.neighbor_id
    ), m AS (
        SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits,
               sum(1.0 / log2(rank + 1)) AS dcg
        FROM h GROUP BY 1
    )
    SELECT qq.query_id,
           (CASE WHEN isnan(CAST((coalesce(m.n_hits, 0) / 10.0) AS DOUBLE)) OR abs(CAST((coalesce(m.n_hits, 0) / 10.0) AS DOUBLE)) >= 4611686018427.388 THEN (coalesce(m.n_hits, 0) / 10.0) ELSE floor((coalesce(m.n_hits, 0) / 10.0) * 1000000.0 + 0.5) / 1000000.0 END) AS recall_at_10,
           (CASE WHEN isnan(CAST((coalesce(m.dcg, 0.0) / {_IDEAL_DCG10!r}) AS DOUBLE)) OR abs(CAST((coalesce(m.dcg, 0.0) / {_IDEAL_DCG10!r}) AS DOUBLE)) >= 4611686018427.388 THEN (coalesce(m.dcg, 0.0) / {_IDEAL_DCG10!r}) ELSE floor((coalesce(m.dcg, 0.0) / {_IDEAL_DCG10!r}) * 1000000.0 + 0.5) / 1000000.0 END) AS ndcg_at_10
    FROM (SELECT DISTINCT query_id FROM a) qq LEFT JOIN m USING (query_id)
    """


# --- round-5 wave: statistical evaluation (operators/stats.py) ------------

ORACLES["roc_auc_exact"] = """
    WITH e AS (
        SELECT CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ), scored AS (
        SELECT y,
               (CASE WHEN isnan(CAST((1.0 / (1.0 + exp(-list_dot_product(
                   v,
                   list_transform(range(0, len(v)), j -> ((j % 7) - 3) / 10.0)
               )))) AS DOUBLE)) OR abs(CAST((1.0 / (1.0 + exp(-list_dot_product(
                   v,
                   list_transform(range(0, len(v)), j -> ((j % 7) - 3) / 10.0)
               )))) AS DOUBLE)) >= 4611686018427.388 THEN (1.0 / (1.0 + exp(-list_dot_product(
                   v,
                   list_transform(range(0, len(v)), j -> ((j % 7) - 3) / 10.0)
               )))) ELSE floor((1.0 / (1.0 + exp(-list_dot_product(
                   v,
                   list_transform(range(0, len(v)), j -> ((j % 7) - 3) / 10.0)
               )))) * 1000000.0 + 0.5) / 1000000.0 END) AS score
        FROM e
    ), per AS (
        SELECT score, CAST(count(*) AS BIGINT) AS n_s,
               CAST(sum(y) AS BIGINT) AS n_pos_s
        FROM scored GROUP BY 1
    ), ranked AS (
        SELECT n_s, n_pos_s,
               CAST(coalesce(sum(n_s) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
        FROM per
    ), a AS (
        SELECT CAST(sum(n_s) AS BIGINT) AS n,
               CAST(sum(n_pos_s) AS BIGINT) AS n_pos,
               CAST(sum(n_pos_s * (2 * cum_before + n_s + 1)) AS BIGINT)
                   AS rank2_pos
        FROM ranked
    )
    SELECT n_pos, n - n_pos AS n_neg,
           (CASE WHEN isnan(CAST((CAST(rank2_pos - n_pos * (n_pos + 1) AS DOUBLE)
                 / (2.0 * n_pos * (n - n_pos))) AS DOUBLE)) OR abs(CAST((CAST(rank2_pos - n_pos * (n_pos + 1) AS DOUBLE)
                 / (2.0 * n_pos * (n - n_pos))) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(rank2_pos - n_pos * (n_pos + 1) AS DOUBLE)
                 / (2.0 * n_pos * (n - n_pos))) ELSE floor((CAST(rank2_pos - n_pos * (n_pos + 1) AS DOUBLE)
                 / (2.0 * n_pos * (n - n_pos))) * 1000000.0 + 0.5) / 1000000.0 END) AS auc
    FROM a
    """

ORACLES["spearman_daily_orders"] = """
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
    ), r AS (
        SELECT CAST(2 * rank() OVER (ORDER BY cents)
                    + count(*) OVER (PARTITION BY cents) - 1 AS BIGINT) AS rx2,
               CAST(2 * rank() OVER (ORDER BY n_orders)
                    + count(*) OVER (PARTITION BY n_orders) - 1 AS BIGINT) AS ry2
        FROM d
    ), a AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(rx2) AS BIGINT) AS sx, CAST(sum(ry2) AS BIGINT) AS sy,
               CAST(sum(rx2 * ry2) AS BIGINT) AS sxy,
               CAST(sum(rx2 * rx2) AS BIGINT) AS sxx,
               CAST(sum(ry2 * ry2) AS BIGINT) AS syy
        FROM r
    )
    SELECT n,
           (CASE WHEN isnan(CAST((CAST(n * sxy - sx * sy AS DOUBLE)
                 / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                               * CAST(n * syy - sy * sy AS DOUBLE)), 0)) AS DOUBLE)) OR abs(CAST((CAST(n * sxy - sx * sy AS DOUBLE)
                 / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                               * CAST(n * syy - sy * sy AS DOUBLE)), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(n * sxy - sx * sy AS DOUBLE)
                 / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                               * CAST(n * syy - sy * sy AS DOUBLE)), 0)) ELSE floor((CAST(n * sxy - sx * sy AS DOUBLE)
                 / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                               * CAST(n * syy - sy * sy AS DOUBLE)), 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS spearman_rho
    FROM a
    """

ORACLES["chi_square_event_dow"] = """
    WITH o AS (
        SELECT event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ), r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r_tot FROM o GROUP BY 1),
    c AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c_tot FROM o GROUP BY 1),
    n AS (SELECT CAST(sum(o) AS BIGINT) AS n_tot FROM o)
    SELECT o.event_type, o.dow, o.o,
           (CASE WHEN isnan(CAST((r.r_tot * c.c_tot / CAST(n.n_tot AS DOUBLE)) AS DOUBLE)) OR abs(CAST((r.r_tot * c.c_tot / CAST(n.n_tot AS DOUBLE)) AS DOUBLE)) >= 4611686018427.388 THEN (r.r_tot * c.c_tot / CAST(n.n_tot AS DOUBLE)) ELSE floor((r.r_tot * c.c_tot / CAST(n.n_tot AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 END) AS expected,
           (CASE WHEN isnan(CAST(((CAST(n.n_tot * o.o - r.r_tot * c.c_tot AS DOUBLE)
                  * CAST(n.n_tot * o.o - r.r_tot * c.c_tot AS DOUBLE))
                 / (CAST(n.n_tot AS DOUBLE) * r.r_tot * c.c_tot)) AS DOUBLE)) OR abs(CAST(((CAST(n.n_tot * o.o - r.r_tot * c.c_tot AS DOUBLE)
                  * CAST(n.n_tot * o.o - r.r_tot * c.c_tot AS DOUBLE))
                 / (CAST(n.n_tot AS DOUBLE) * r.r_tot * c.c_tot)) AS DOUBLE)) >= 4611686018427.388 THEN ((CAST(n.n_tot * o.o - r.r_tot * c.c_tot AS DOUBLE)
                  * CAST(n.n_tot * o.o - r.r_tot * c.c_tot AS DOUBLE))
                 / (CAST(n.n_tot AS DOUBLE) * r.r_tot * c.c_tot)) ELSE floor(((CAST(n.n_tot * o.o - r.r_tot * c.c_tot AS DOUBLE)
                  * CAST(n.n_tot * o.o - r.r_tot * c.c_tot AS DOUBLE))
                 / (CAST(n.n_tot AS DOUBLE) * r.r_tot * c.c_tot)) * 1000000.0 + 0.5) / 1000000.0 END) AS chi2_contrib
    FROM o JOIN r USING (event_type) JOIN c USING (dow), n
    """

ORACLES["welch_t_event_values"] = """
    WITH g AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
               CAST(sum(CAST(round(value * 100) AS BIGINT)
                        * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS q
        FROM events
        WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
        GROUP BY 1
    ), j AS (
        SELECT a.n AS n_a, a.s AS s_a, a.q AS q_a,
               b.n AS n_b, b.s AS s_b, b.q AS q_b
        FROM (SELECT * FROM g WHERE event_type = 'view') a,
             (SELECT * FROM g WHERE event_type = 'purchase') b
    ), m AS (
        SELECT n_a, n_b,
               CAST(s_a AS DOUBLE) / n_a AS mean_a,
               CAST(s_b AS DOUBLE) / n_b AS mean_b,
               (q_a - s_a * (CAST(s_a AS DOUBLE) / n_a)) / (n_a - 1) / n_a
                   AS se2_a,
               (q_b - s_b * (CAST(s_b AS DOUBLE) / n_b)) / (n_b - 1) / n_b
                   AS se2_b
        FROM j
    )
    SELECT n_a, n_b,
           (CASE WHEN isnan(CAST((mean_a / 100.0) AS DOUBLE)) OR abs(CAST((mean_a / 100.0) AS DOUBLE)) >= 4611686018427.388 THEN (mean_a / 100.0) ELSE floor((mean_a / 100.0) * 1000000.0 + 0.5) / 1000000.0 END) AS mean_a,
           (CASE WHEN isnan(CAST((mean_b / 100.0) AS DOUBLE)) OR abs(CAST((mean_b / 100.0) AS DOUBLE)) >= 4611686018427.388 THEN (mean_b / 100.0) ELSE floor((mean_b / 100.0) * 1000000.0 + 0.5) / 1000000.0 END) AS mean_b,
           (CASE WHEN isnan(CAST(((mean_a - mean_b) / sqrt(se2_a + se2_b)) AS DOUBLE)) OR abs(CAST(((mean_a - mean_b) / sqrt(se2_a + se2_b)) AS DOUBLE)) >= 4611686018427.388 THEN ((mean_a - mean_b) / sqrt(se2_a + se2_b)) ELSE floor(((mean_a - mean_b) / sqrt(se2_a + se2_b)) * 1000000.0 + 0.5) / 1000000.0 END) AS t_stat,
           (CASE WHEN isnan(CAST(((se2_a + se2_b) * (se2_a + se2_b)
                 / (se2_a * se2_a / (n_a - 1) + se2_b * se2_b / (n_b - 1))) AS DOUBLE)) OR abs(CAST(((se2_a + se2_b) * (se2_a + se2_b)
                 / (se2_a * se2_a / (n_a - 1) + se2_b * se2_b / (n_b - 1))) AS DOUBLE)) >= 4611686018427.388 THEN ((se2_a + se2_b) * (se2_a + se2_b)
                 / (se2_a * se2_a / (n_a - 1) + se2_b * se2_b / (n_b - 1))) ELSE floor(((se2_a + se2_b) * (se2_a + se2_b)
                 / (se2_a * se2_a / (n_a - 1) + se2_b * se2_b / (n_b - 1))) * 1000000.0 + 0.5) / 1000000.0 END) AS df_welch
    FROM m
    """

ORACLES["acf_daily_order_revenue"] = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ), bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
    spine AS (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        FROM bounds
    ), s AS (
        SELECT sp.day, coalesce(daily.cents, 0) AS cents
        FROM spine sp LEFT JOIN daily USING (day)
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(cents) AS BIGINT) AS s_tot
        FROM s
    ), y AS (
        SELECT day, n_days,
               CAST(n_days * cents - s_tot AS DOUBLE) AS y
        FROM s, tot
    ), l AS (
        SELECT n_days, y,
               lag(y, 1) OVER (ORDER BY day) AS y1,
               lag(y, 2) OVER (ORDER BY day) AS y2,
               lag(y, 3) OVER (ORDER BY day) AS y3,
               lag(y, 4) OVER (ORDER BY day) AS y4,
               lag(y, 5) OVER (ORDER BY day) AS y5,
               lag(y, 6) OVER (ORDER BY day) AS y6,
               lag(y, 7) OVER (ORDER BY day) AS y7
        FROM y
    ), a AS (
        SELECT any_value(n_days) AS n_days, sum(y * y) AS den,
               sum(y * y1) AS num1, CAST(count(y1) AS BIGINT) AS cnt1,
               sum(y * y2) AS num2, CAST(count(y2) AS BIGINT) AS cnt2,
               sum(y * y3) AS num3, CAST(count(y3) AS BIGINT) AS cnt3,
               sum(y * y4) AS num4, CAST(count(y4) AS BIGINT) AS cnt4,
               sum(y * y5) AS num5, CAST(count(y5) AS BIGINT) AS cnt5,
               sum(y * y6) AS num6, CAST(count(y6) AS BIGINT) AS cnt6,
               sum(y * y7) AS num7, CAST(count(y7) AS BIGINT) AS cnt7
        FROM l
    )
    SELECT 1 AS lag, n_days, cnt1 AS n_terms, (CASE WHEN isnan(CAST((num1 / den) AS DOUBLE)) OR abs(CAST((num1 / den) AS DOUBLE)) >= 4611686018427.388 THEN (num1 / den) ELSE floor((num1 / den) * 1000000.0 + 0.5) / 1000000.0 END) AS acf FROM a
    UNION ALL SELECT 2, n_days, cnt2, (CASE WHEN isnan(CAST((num2 / den) AS DOUBLE)) OR abs(CAST((num2 / den) AS DOUBLE)) >= 4611686018427.388 THEN (num2 / den) ELSE floor((num2 / den) * 1000000.0 + 0.5) / 1000000.0 END) FROM a
    UNION ALL SELECT 3, n_days, cnt3, (CASE WHEN isnan(CAST((num3 / den) AS DOUBLE)) OR abs(CAST((num3 / den) AS DOUBLE)) >= 4611686018427.388 THEN (num3 / den) ELSE floor((num3 / den) * 1000000.0 + 0.5) / 1000000.0 END) FROM a
    UNION ALL SELECT 4, n_days, cnt4, (CASE WHEN isnan(CAST((num4 / den) AS DOUBLE)) OR abs(CAST((num4 / den) AS DOUBLE)) >= 4611686018427.388 THEN (num4 / den) ELSE floor((num4 / den) * 1000000.0 + 0.5) / 1000000.0 END) FROM a
    UNION ALL SELECT 5, n_days, cnt5, (CASE WHEN isnan(CAST((num5 / den) AS DOUBLE)) OR abs(CAST((num5 / den) AS DOUBLE)) >= 4611686018427.388 THEN (num5 / den) ELSE floor((num5 / den) * 1000000.0 + 0.5) / 1000000.0 END) FROM a
    UNION ALL SELECT 6, n_days, cnt6, (CASE WHEN isnan(CAST((num6 / den) AS DOUBLE)) OR abs(CAST((num6 / den) AS DOUBLE)) >= 4611686018427.388 THEN (num6 / den) ELSE floor((num6 / den) * 1000000.0 + 0.5) / 1000000.0 END) FROM a
    UNION ALL SELECT 7, n_days, cnt7, (CASE WHEN isnan(CAST((num7 / den) AS DOUBLE)) OR abs(CAST((num7 / den) AS DOUBLE)) >= 4611686018427.388 THEN (num7 / den) ELSE floor((num7 / den) * 1000000.0 + 0.5) / 1000000.0 END) FROM a
    """

ORACLES["kaplan_meier_retention"] = """
    WITH o AS (
        SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY CAST(o_orderdate AS DATE),
                                           o_orderkey) AS rn
        FROM orders
    ), mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS max_day FROM orders),
    f AS (
        SELECT a.o_custkey, a.day AS f1, b.day AS f2
        FROM (SELECT * FROM o WHERE rn = 1) a
        LEFT JOIN (SELECT * FROM o WHERE rn = 2) b USING (o_custkey)
    ), dur AS (
        SELECT CAST(CASE WHEN f2 IS NOT NULL THEN f2 - f1
                         ELSE max_day - f1 END AS BIGINT) AS dur_days,
               CASE WHEN f2 IS NOT NULL THEN 1 ELSE 0 END AS evt
        FROM f, mx
    ), per AS (
        SELECT dur_days, CAST(count(*) AS BIGINT) AS n_exit,
               CAST(sum(evt) AS BIGINT) AS d
        FROM dur GROUP BY 1
    ), tot AS (SELECT CAST(sum(n_exit) AS BIGINT) AS n_all FROM per),
    risk AS (
        SELECT dur_days, d,
               CAST(n_all - coalesce(sum(n_exit) OVER (ORDER BY dur_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS n_risk
        FROM per, tot
    )
    SELECT dur_days, n_risk, d,
           CASE WHEN n_risk = d THEN 0.0
                ELSE (CASE WHEN isnan(CAST((exp(sum(CASE WHEN n_risk > d THEN
                         ln(CAST(n_risk - d AS DOUBLE) / n_risk) END)
                     OVER (ORDER BY dur_days
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) AS DOUBLE)) OR abs(CAST((exp(sum(CASE WHEN n_risk > d THEN
                         ln(CAST(n_risk - d AS DOUBLE) / n_risk) END)
                     OVER (ORDER BY dur_days
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) AS DOUBLE)) >= 4611686018427.388 THEN (exp(sum(CASE WHEN n_risk > d THEN
                         ln(CAST(n_risk - d AS DOUBLE) / n_risk) END)
                     OVER (ORDER BY dur_days
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) ELSE floor((exp(sum(CASE WHEN n_risk > d THEN
                         ln(CAST(n_risk - d AS DOUBLE) / n_risk) END)
                     OVER (ORDER BY dur_days
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) * 1000000.0 + 0.5) / 1000000.0 END) END AS survival
    FROM risk WHERE d > 0
    """


# --- round-5 wave: trading indicators + concentration ---------------------

ORACLES["bollinger_daily_bands"] = """
    WITH d AS (
        SELECT o_orderpriority AS series, CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1, 2
    ), r AS (
        SELECT series, day, cents,
               CAST(count(*) OVER w AS BIGINT) AS n_win,
               sum(CAST(cents AS HUGEINT)) OVER w AS s_win,
               sum(CAST(cents AS HUGEINT) * cents) OVER w AS q_win
        FROM d
        WINDOW w AS (PARTITION BY series ORDER BY day
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT series, day, cents,
           (CASE WHEN isnan(CAST((CAST(s_win AS DOUBLE) / 20) AS DOUBLE)) OR abs(CAST((CAST(s_win AS DOUBLE) / 20) AS DOUBLE)) >= 4.611686018427388e+16 THEN (CAST(s_win AS DOUBLE) / 20) ELSE floor((CAST(s_win AS DOUBLE) / 20) * 100.0 + 0.5) / 100.0 END) AS sma,
           (CASE WHEN isnan(CAST((sqrt(CAST(20 * q_win - s_win * s_win AS DOUBLE) / 380.0)) AS DOUBLE)) OR abs(CAST((sqrt(CAST(20 * q_win - s_win * s_win AS DOUBLE) / 380.0)) AS DOUBLE)) >= 4.611686018427388e+16 THEN (sqrt(CAST(20 * q_win - s_win * s_win AS DOUBLE) / 380.0)) ELSE floor((sqrt(CAST(20 * q_win - s_win * s_win AS DOUBLE) / 380.0)) * 100.0 + 0.5) / 100.0 END)
               AS sd,
           -- exact-integer band test (HUGEINT): dev = n*c - S,
           -- dev^2*(n-1) > k^2*n*(n*Q - S^2), sign of dev picks the side
           CAST(20 * CAST(cents AS HUGEINT) - s_win > 0
                AND (20 * CAST(cents AS HUGEINT) - s_win)
                    * (20 * CAST(cents AS HUGEINT) - s_win) * 19
                    > 80 * (20 * q_win - s_win * s_win) AS INT) AS above_upper,
           CAST(20 * CAST(cents AS HUGEINT) - s_win < 0
                AND (20 * CAST(cents AS HUGEINT) - s_win)
                    * (20 * CAST(cents AS HUGEINT) - s_win) * 19
                    > 80 * (20 * q_win - s_win * s_win) AS INT) AS below_lower
    FROM r WHERE n_win = 20
    """

ORACLES["rsi_cutler_daily"] = """
    WITH d AS (
        SELECT o_orderpriority AS series, CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1, 2
    ), f AS (
        SELECT series, day,
               cents - lag(cents) OVER (PARTITION BY series ORDER BY day)
                   AS diff
        FROM d
    ), g AS (SELECT * FROM f WHERE diff IS NOT NULL),
    r AS (
        SELECT series, day,
               CAST(count(*) OVER w AS BIGINT) AS n_win,
               CAST(sum(greatest(diff, 0)) OVER w AS BIGINT) AS gain,
               CAST(sum(greatest(-diff, 0)) OVER w AS BIGINT) AS loss
        FROM g
        WINDOW w AS (PARTITION BY series ORDER BY day
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT series, day, gain AS gain_cents, loss AS loss_cents,
           (CASE WHEN isnan(CAST((100.0 * gain / nullif(CAST(gain + loss AS DOUBLE), 0)) AS DOUBLE)) OR abs(CAST((100.0 * gain / nullif(CAST(gain + loss AS DOUBLE), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (100.0 * gain / nullif(CAST(gain + loss AS DOUBLE), 0)) ELSE floor((100.0 * gain / nullif(CAST(gain + loss AS DOUBLE), 0)) * 1000000.0 + 0.5) / 1000000.0 END)
               AS rsi
    FROM r WHERE n_win = 14
    """

ORACLES["hhi_revenue_concentration"] = """
    WITH per AS (
        SELECT r.r_name, n.n_name,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    ), tot AS (
        SELECT r_name, CAST(sum(cents) AS BIGINT) AS tot_cents
        FROM per GROUP BY 1
    )
    SELECT per.r_name, per.n_name, per.cents,
           (CASE WHEN isnan(CAST((CAST(per.cents AS DOUBLE) / tot.tot_cents) AS DOUBLE)) OR abs(CAST((CAST(per.cents AS DOUBLE) / tot.tot_cents) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(per.cents AS DOUBLE) / tot.tot_cents) ELSE floor((CAST(per.cents AS DOUBLE) / tot.tot_cents) * 1000000.0 + 0.5) / 1000000.0 END) AS share,
           (CASE WHEN isnan(CAST(((CAST(per.cents AS DOUBLE) / tot.tot_cents)
                 * (CAST(per.cents AS DOUBLE) / tot.tot_cents) * 10000.0) AS DOUBLE)) OR abs(CAST(((CAST(per.cents AS DOUBLE) / tot.tot_cents)
                 * (CAST(per.cents AS DOUBLE) / tot.tot_cents) * 10000.0) AS DOUBLE)) >= 4611686018427.388 THEN ((CAST(per.cents AS DOUBLE) / tot.tot_cents)
                 * (CAST(per.cents AS DOUBLE) / tot.tot_cents) * 10000.0) ELSE floor(((CAST(per.cents AS DOUBLE) / tot.tot_cents)
                 * (CAST(per.cents AS DOUBLE) / tot.tot_cents) * 10000.0) * 1000000.0 + 0.5) / 1000000.0 END) AS hhi_contrib
    FROM per JOIN tot USING (r_name)
    """


# --------------------------------------------------------------------------
# Round 6 — ML-pipeline + finance additions
# --------------------------------------------------------------------------

ORACLES["stratified_kfold_assign"] = """
    WITH f AS (
        SELECT lang, doc_id, n_chars,
               CAST((row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || 'kfold') ASC,
                            doc_id ASC) - 1) % 5 AS INT) AS fold
        FROM documents)
    SELECT lang, fold,
           COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM f GROUP BY lang, fold ORDER BY lang, fold
"""

ORACLES["revenue_recognition_monthly"] = """
    WITH ship AS (
        SELECT l_orderkey, max(l_shipdate) AS last_ship
        FROM lineitem GROUP BY l_orderkey
    ), o AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS t_c,
               date_trunc('month', o_orderdate) AS m0,
               date_trunc('month', greatest(last_ship, o_orderdate)) AS m1
        FROM orders JOIN ship ON l_orderkey = o_orderkey
    ), m AS (
        SELECT o_orderkey, t_c,
               CAST(unnest(generate_series(CAST(m0 AS DATE), CAST(m1 AS DATE),
                                           INTERVAL 1 MONTH)) AS DATE) AS month
        FROM o
    ), n AS (
        SELECT *, COUNT(*) OVER (PARTITION BY o_orderkey) AS n_m,
               row_number() OVER (PARTITION BY o_orderkey ORDER BY month) AS rn
        FROM m
    ), a AS (
        -- unit weights: largest-remainder degenerates to floor(t/n) + 1
        -- cent for the first (t mod n) months in month order
        SELECT o_orderkey, month,
               t_c // n_m
               + CASE WHEN rn <= t_c % n_m THEN 1 ELSE 0 END AS alloc
        FROM n
    )
    SELECT month, COUNT(DISTINCT o_orderkey) AS n_orders,
           (CASE WHEN isnan(CAST((SUM(alloc) / 100.0) AS DOUBLE)) OR abs(CAST((SUM(alloc) / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN (SUM(alloc) / 100.0) ELSE floor((SUM(alloc) / 100.0) * 100.0 + 0.5) / 100.0 END) AS recognized_revenue
    FROM a GROUP BY month ORDER BY month
"""

ORACLES["var_cvar_daily_revenue"] = """
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS day_cents
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, day
    ), rk AS (
        SELECT event_type, day_cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY day_cents ASC) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM d
    ), t AS (
        SELECT *, (n + 19) // 20 AS k
        FROM rk WHERE rn <= (n + 19) // 20
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_obs,
           CAST(max(k) AS BIGINT) AS k_tail,
           (CASE WHEN isnan(CAST((max(day_cents) / 100.0) AS DOUBLE)) OR abs(CAST((max(day_cents) / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN (max(day_cents) / 100.0) ELSE floor((max(day_cents) / 100.0) * 100.0 + 0.5) / 100.0 END) AS var_value,
           (CASE WHEN isnan(CAST((CAST(SUM(day_cents) AS DOUBLE) / max(k) / 100.0) AS DOUBLE)) OR abs(CAST((CAST(SUM(day_cents) AS DOUBLE) / max(k) / 100.0) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(SUM(day_cents) AS DOUBLE) / max(k) / 100.0) ELSE floor((CAST(SUM(day_cents) AS DOUBLE) / max(k) / 100.0) * 1000000.0 + 0.5) / 1000000.0 END)
               AS cvar_value
    FROM t GROUP BY event_type ORDER BY event_type
"""

ORACLES["pca_embedding_projection"] = f"""
    WITH c AS (SELECT * FROM '{_AUX_DIR}/pca_components/*.parquet'),
    e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings)
    SELECT vec_id, label, comp_id,
           (CASE WHEN isnan(CAST((eigenvalue) AS DOUBLE)) OR abs(CAST((eigenvalue) AS DOUBLE)) >= 4611686018427.388 THEN (eigenvalue) ELSE floor((eigenvalue) * 1000000.0 + 0.5) / 1000000.0 END) AS eigenvalue,
           (CASE WHEN isnan(CAST((explained_ratio) AS DOUBLE)) OR abs(CAST((explained_ratio) AS DOUBLE)) >= 4611686018427.388 THEN (explained_ratio) ELSE floor((explained_ratio) * 1000000.0 + 0.5) / 1000000.0 END) AS explained_ratio,
           (CASE WHEN isnan(CAST((list_dot_product(
               list_transform(range(1, 65), i -> v[i] - mean[i]), axis)) AS DOUBLE)) OR abs(CAST((list_dot_product(
               list_transform(range(1, 65), i -> v[i] - mean[i]), axis)) AS DOUBLE)) >= 4611686018427.388 THEN (list_dot_product(
               list_transform(range(1, 65), i -> v[i] - mean[i]), axis)) ELSE floor((list_dot_product(
               list_transform(range(1, 65), i -> v[i] - mean[i]), axis)) * 1000000.0 + 0.5) / 1000000.0 END) AS score
    FROM e, c
"""

ORACLES["heaps_law_vocab_growth"] = f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ), nt AS (
        SELECT doc_id, COUNT(*) AS ntok FROM toks GROUP BY doc_id
    ), ft AS (
        SELECT min(doc_id) AS doc_id FROM toks GROUP BY tok
    ), nv AS (
        SELECT doc_id, COUNT(*) AS nnew FROM ft GROUP BY doc_id
    ), s AS (
        SELECT d.doc_id, coalesce(ntok, 0) AS ntok, coalesce(nnew, 0) AS nnew
        FROM documents d
        LEFT JOIN nt USING (doc_id) LEFT JOIN nv USING (doc_id)
    )
    SELECT doc_id,
           CAST(SUM(ntok) OVER (ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
           CAST(SUM(nnew) OVER (ORDER BY doc_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
    FROM s ORDER BY doc_id
"""

ORACLES["bpe_pair_merge_step"] = f"""
    WITH tc AS (
        SELECT t AS token, COUNT(*) AS c
        FROM (SELECT unnest({_TOKS}) AS t FROM documents) GROUP BY t
    ), p AS (
        SELECT substr(token, CAST(i AS INT), 2) AS pair, c
        FROM tc, unnest(generate_series(1, length(token) - 1)) AS u(i)
        WHERE length(token) >= 2
    ), f AS (
        SELECT pair, CAST(SUM(c) AS BIGINT) AS freq FROM p GROUP BY pair
    )
    SELECT pair, freq, CAST(rn AS INT) AS rank FROM (
        SELECT pair, freq,
               row_number() OVER (ORDER BY freq DESC, pair ASC) AS rn
        FROM f
    ) WHERE rn <= 20
"""

ORACLES["seasonal_decompose_daily"] = """
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, day
    ), w AS (
        SELECT *,
               CAST(SUM(cents) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
                   AS s7,
               COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS n7,
               (dayofweek(day) + 1) AS dow
        FROM d
    ), i AS (
        SELECT * FROM w WHERE n7 = 7
    ), s AS (
        SELECT event_type, dow,
               CAST(7 * SUM(cents) - SUM(s7) AS BIGINT) AS num,
               CAST(7 * COUNT(*) AS BIGINT) AS den
        FROM i GROUP BY event_type, dow
    )
    SELECT i.event_type, day, CAST(i.dow AS INT) AS dow,
           (CASE WHEN isnan(CAST((cents / 100.0) AS DOUBLE)) OR abs(CAST((cents / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN (cents / 100.0) ELSE floor((cents / 100.0) * 100.0 + 0.5) / 100.0 END) AS value,
           (CASE WHEN isnan(CAST((s7 / 700.0) AS DOUBLE)) OR abs(CAST((s7 / 700.0) AS DOUBLE)) >= 4611686018427.388 THEN (s7 / 700.0) ELSE floor((s7 / 700.0) * 1000000.0 + 0.5) / 1000000.0 END) AS trend,
           (CASE WHEN isnan(CAST((num / den / 100.0) AS DOUBLE)) OR abs(CAST((num / den / 100.0) AS DOUBLE)) >= 4611686018427.388 THEN (num / den / 100.0) ELSE floor((num / den / 100.0) * 1000000.0 + 0.5) / 1000000.0 END) AS seasonal,
           (CASE WHEN isnan(CAST(((cents - s7 / 7.0 - num / den) / 100.0) AS DOUBLE)) OR abs(CAST(((cents - s7 / 7.0 - num / den) / 100.0) AS DOUBLE)) >= 4611686018427.388 THEN ((cents - s7 / 7.0 - num / den) / 100.0) ELSE floor(((cents - s7 / 7.0 - num / den) / 100.0) * 1000000.0 + 0.5) / 1000000.0 END) AS resid
    FROM i JOIN s ON i.event_type = s.event_type AND i.dow = s.dow
"""

# loan_amortization_schedule's oracle is built in queries.py at the
# @query site (operators.allocation.level_payment_oracle_sql shares
# its repr-printed constants with the Spark plan — zero pow in either
# engine; the r7 driver gate proved constant-base power() is
# libm-sensitive). Operators feed queries.py, never oracles.py.


def _pps_f(x: str, n: int) -> str:
    """DuckDB twin of the pps_systematic_sample grid-count f(x) =
    clamp(ceil((2n*x - W)/(2W)), 0, n) — same pmod-based exact-integer
    ceil as the Spark side (Spark `div`/DuckDB `//` both truncate, so
    the naive -((-a)//b) identity would be floor, not ceil)."""
    a = f"({2 * n} * {x} - wt)"
    b = "(2 * wt)"
    m = f"((({a}) % ({b}) + ({b})) % ({b}))"
    ceil = f"((({a}) - {m}) // ({b})) + CASE WHEN {m} <> 0 THEN 1 ELSE 0 END"
    return f"greatest(0, least({n}, {ceil}))"


ORACLES["pps_part_revenue_sample"] = f"""
    WITH w AS (
        SELECT l_partkey,
               CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) AS BIGINT) AS w_c
        FROM lineitem GROUP BY l_partkey
    ), h AS (
        SELECT *, md5(CAST(l_partkey AS VARCHAR) || 'pps') AS hk
        FROM w WHERE w_c > 0
    ), c AS (
        SELECT *,
               CAST(SUM(w_c) OVER (ORDER BY hk, l_partkey
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS chi,
               CAST(SUM(w_c) OVER () AS BIGINT) AS wt
        FROM h
    ), f AS (
        SELECT l_partkey, w_c, wt,
               {_pps_f("chi", 500)} AS fhi,
               {_pps_f("(chi - w_c)", 500)} AS flo
        FROM c
    )
    SELECT l_partkey, w_c AS weight_cents,
           CAST(fhi - flo AS BIGINT) AS hits,
           (CASE WHEN isnan(CAST((least(1.0, 500.0 * w_c / wt)) AS DOUBLE)) OR abs(CAST((least(1.0, 500.0 * w_c / wt)) AS DOUBLE)) >= 4611686018427.388 THEN (least(1.0, 500.0 * w_c / wt)) ELSE floor((least(1.0, 500.0 * w_c / wt)) * 1000000.0 + 0.5) / 1000000.0 END) AS incl_prob
    FROM f WHERE fhi - flo >= 1
"""

ORACLES["fifo_open_lots_aging"] = """
    WITH li AS (
        SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
               l_returnflag,
               CAST(round(l_quantity) AS BIGINT) AS qty,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS total
        FROM lineitem
    ), b AS (
        SELECT *,
               CAST(SUM(qty) OVER (PARTITION BY l_partkey
                    ORDER BY l_shipdate, l_orderkey, l_linenumber
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cend
        FROM li WHERE l_returnflag = 'N' AND qty > 0
    ), s AS (
        SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sold
        FROM li WHERE l_returnflag = 'R' AND qty > 0
        GROUP BY l_partkey
    ), o AS (
        SELECT b.*,
               qty - least(qty, greatest(0, coalesce(sold, 0)
                                            - (cend - qty))) AS open_qty,
               (qty - least(qty, greatest(0, coalesce(sold, 0)
                                             - (cend - qty)))) * total
                   // qty AS open_cents
        FROM b LEFT JOIN s USING (l_partkey)
    ), asof_day AS (
        SELECT max(l_shipdate) AS today FROM li
    )
    SELECT p_brand,
           CASE WHEN date_diff('day', l_shipdate, today) <= 30 THEN '00-30'
                WHEN date_diff('day', l_shipdate, today) <= 60 THEN '31-60'
                WHEN date_diff('day', l_shipdate, today) <= 90 THEN '61-90'
                ELSE '91+' END AS age_bucket,
           COUNT(*) AS n_lots,
           CAST(SUM(open_qty) AS BIGINT) AS open_qty,
           (CASE WHEN isnan(CAST((SUM(open_cents) / 100.0) AS DOUBLE)) OR abs(CAST((SUM(open_cents) / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN (SUM(open_cents) / 100.0) ELSE floor((SUM(open_cents) / 100.0) * 100.0 + 0.5) / 100.0 END) AS open_value
    FROM o JOIN part ON p_partkey = l_partkey CROSS JOIN asof_day
    WHERE open_qty > 0
    GROUP BY p_brand, age_bucket
"""

from finance_reporting_etl_spark.operators.stats import (  # noqa: E402
    sprt_oracle_sql as _sprt_sql,
)

# Observation stream for the sequential A/B test: every click/purchase
# event in time order, arm = salted-md5 user bucket (the ab1 convention
# with its own salt), success = the event is a purchase.
_SPRT_ARM = (
    "CASE WHEN CAST((instr('0123456789abcdef', "
    "substr(md5(CAST(user_id AS VARCHAR) || 'sprt1'), 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', "
    "substr(md5(CAST(user_id AS VARCHAR) || 'sprt1'), 2, 1)) - 1)"
    " AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END"
)
ORACLES["sprt_ab_sequential"] = _sprt_sql(
    f"""SELECT {_SPRT_ARM} AS arm,
               epoch_us(ts) AS t_us,
               event_id AS tb,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS converted
        FROM events WHERE event_type IN ('click', 'purchase')""",
    p0=0.45,
    p1=0.55,
)

ORACLES["changepoint_daily_revenue"] = """
    WITH d AS (
        SELECT o_orderpriority,
               CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS c
        FROM orders GROUP BY 1, 2
    ), s AS (
        SELECT o_orderpriority, day, c,
               CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT)
                   AS n,
               CAST(sum(c) OVER (PARTITION BY o_orderpriority) AS BIGINT)
                   AS tot,
               CAST(row_number() OVER w AS BIGINT) AS k,
               CAST(sum(c) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre
        FROM d
        WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day)
    ), m AS (
        SELECT *, abs(n * pre - k * tot) AS d_stat,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY abs(n * pre - k * tot) DESC, day)
                   AS r
        FROM s WHERE k < n
    )
    SELECT o_orderpriority, day AS change_point,
           k AS n_before, n - k AS n_after,
           (CASE WHEN isnan(CAST((CAST(pre AS DOUBLE) / k / 100.0) AS DOUBLE)) OR abs(CAST((CAST(pre AS DOUBLE) / k / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN (CAST(pre AS DOUBLE) / k / 100.0) ELSE floor((CAST(pre AS DOUBLE) / k / 100.0) * 100.0 + 0.5) / 100.0 END) AS mean_before,
           (CASE WHEN isnan(CAST((CAST(tot - pre AS DOUBLE) / (n - k) / 100.0) AS DOUBLE)) OR abs(CAST((CAST(tot - pre AS DOUBLE) / (n - k) / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN (CAST(tot - pre AS DOUBLE) / (n - k) / 100.0) ELSE floor((CAST(tot - pre AS DOUBLE) / (n - k) / 100.0) * 100.0 + 0.5) / 100.0 END) AS mean_after,
           (CASE WHEN isnan(CAST((CAST(tot - pre AS DOUBLE) / (n - k) / 100.0
                 - CAST(pre AS DOUBLE) / k / 100.0) AS DOUBLE)) OR abs(CAST((CAST(tot - pre AS DOUBLE) / (n - k) / 100.0
                 - CAST(pre AS DOUBLE) / k / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN (CAST(tot - pre AS DOUBLE) / (n - k) / 100.0
                 - CAST(pre AS DOUBLE) / k / 100.0) ELSE floor((CAST(tot - pre AS DOUBLE) / (n - k) / 100.0
                 - CAST(pre AS DOUBLE) / k / 100.0) * 100.0 + 0.5) / 100.0 END) AS mean_shift
    FROM m WHERE r = 1
"""

ORACLES["capm_segment_beta"] = """
    WITH seg AS (
        SELECT c.c_mktsegment, CAST(o.o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS c
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ), mkt AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS c
        FROM orders GROUP BY 1
    ), segl AS (
        SELECT c_mktsegment, day, c,
               lag(c) OVER (PARTITION BY c_mktsegment ORDER BY day) AS prev
        FROM seg
    ), segr AS (
        SELECT c_mktsegment, day,
               ((c - prev) * 1000000
                - (((((c - prev) * 1000000) % prev) + prev) % prev)) // prev
                   AS y_ppm
        FROM segl WHERE prev > 0
    ), mktl AS (
        SELECT day, c, lag(c) OVER (ORDER BY day) AS prev FROM mkt
    ), mktr AS (
        SELECT day,
               ((c - prev) * 1000000
                - (((((c - prev) * 1000000) % prev) + prev) % prev)) // prev
                   AS x_ppm
        FROM mktl WHERE prev > 0
    ), pairs AS (
        SELECT c_mktsegment, x_ppm, y_ppm
        FROM segr JOIN mktr USING (day)
    ), a AS (
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_obs,
               CAST(sum(CAST(x_ppm AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(sum(CAST(y_ppm AS HUGEINT)) AS HUGEINT) AS sy,
               CAST(sum(CAST(x_ppm AS HUGEINT) * y_ppm) AS HUGEINT) AS sxy,
               CAST(sum(CAST(x_ppm AS HUGEINT) * x_ppm) AS HUGEINT) AS sxx,
               CAST(sum(CAST(y_ppm AS HUGEINT) * y_ppm) AS HUGEINT) AS syy
        FROM pairs GROUP BY 1
    )
    SELECT c_mktsegment, n_obs,
           (CASE WHEN isnan(CAST((CAST(n_obs * sxy - sx * sy AS DOUBLE)
                 / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0.0)) AS DOUBLE)) OR abs(CAST((CAST(n_obs * sxy - sx * sy AS DOUBLE)
                 / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0.0)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(n_obs * sxy - sx * sy AS DOUBLE)
                 / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0.0)) ELSE floor((CAST(n_obs * sxy - sx * sy AS DOUBLE)
                 / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0.0)) * 1000000.0 + 0.5) / 1000000.0 END)
               AS beta,
           (CASE WHEN isnan(CAST(((CAST(sy AS DOUBLE)
                  - (CAST(n_obs * sxy - sx * sy AS DOUBLE)
                     / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0.0))
                    * CAST(sx AS DOUBLE))
                 / CAST(n_obs AS DOUBLE)) AS DOUBLE)) OR abs(CAST(((CAST(sy AS DOUBLE)
                  - (CAST(n_obs * sxy - sx * sy AS DOUBLE)
                     / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0.0))
                    * CAST(sx AS DOUBLE))
                 / CAST(n_obs AS DOUBLE)) AS DOUBLE)) >= 4611686018427.388 THEN ((CAST(sy AS DOUBLE)
                  - (CAST(n_obs * sxy - sx * sy AS DOUBLE)
                     / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0.0))
                    * CAST(sx AS DOUBLE))
                 / CAST(n_obs AS DOUBLE)) ELSE floor(((CAST(sy AS DOUBLE)
                  - (CAST(n_obs * sxy - sx * sy AS DOUBLE)
                     / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0.0))
                    * CAST(sx AS DOUBLE))
                 / CAST(n_obs AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 END) AS alpha,
           (CASE WHEN isnan(CAST(((CAST(n_obs * sxy - sx * sy AS DOUBLE)
                  * CAST(n_obs * sxy - sx * sy AS DOUBLE))
                 / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE)
                          * CAST(n_obs * syy - sy * sy AS DOUBLE), 0.0)) AS DOUBLE)) OR abs(CAST(((CAST(n_obs * sxy - sx * sy AS DOUBLE)
                  * CAST(n_obs * sxy - sx * sy AS DOUBLE))
                 / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE)
                          * CAST(n_obs * syy - sy * sy AS DOUBLE), 0.0)) AS DOUBLE)) >= 4611686018427.388 THEN ((CAST(n_obs * sxy - sx * sy AS DOUBLE)
                  * CAST(n_obs * sxy - sx * sy AS DOUBLE))
                 / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE)
                          * CAST(n_obs * syy - sy * sy AS DOUBLE), 0.0)) ELSE floor(((CAST(n_obs * sxy - sx * sy AS DOUBLE)
                  * CAST(n_obs * sxy - sx * sy AS DOUBLE))
                 / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE)
                          * CAST(n_obs * syy - sy * sy AS DOUBLE), 0.0)) * 1000000.0 + 0.5) / 1000000.0 END)
               AS r2
    FROM a
"""

from finance_reporting_etl_spark.operators.membership import (  # noqa: E402
    bloom_oracle_sql as _bloom_sql,
)

ORACLES["bloom_filter_membership"] = _bloom_sql(
    "SELECT DISTINCT o_custkey AS k FROM orders"
    " WHERE o_orderpriority = '1-URGENT'",
    "SELECT c_custkey AS k FROM customer",
    salt="bf1",
    m=4096,
    k=3,
)

ORACLES["survivorship_documents"] = """
    WITH r AS (
        SELECT doc_id, lang, source, n_chars, substr(text, 1, 40) AS block
        FROM documents
    ), s AS (
        SELECT *, CAST(count(*) OVER (PARTITION BY block) AS BIGINT) AS n
        FROM r
    ), f AS (SELECT * FROM s WHERE n >= 2),
    w AS (
        SELECT block, n AS n_members, doc_id AS golden_doc_id,
               n_chars AS golden_n_chars,
               row_number() OVER (PARTITION BY block
                                  ORDER BY n_chars DESC, doc_id) AS rr
        FROM f
    ), md AS (
        SELECT block, lang AS lang_consensus,
               row_number() OVER (PARTITION BY block
                                  ORDER BY count(*) DESC, lang) AS rr
        FROM f GROUP BY block, lang
    ), g AS (
        SELECT block,
               array_to_string(list_sort(array_agg(DISTINCT source)), ',')
                   AS sources_merged
        FROM f GROUP BY 1
    )
    SELECT w.block, w.n_members, w.golden_doc_id, w.golden_n_chars,
           md.lang_consensus, g.sources_merged
    FROM w JOIN md USING (block) JOIN g USING (block)
    WHERE w.rr = 1 AND md.rr = 1
"""

_NB_TR = (
    "CASE WHEN CAST((instr('0123456789abcdef', "
    "substr(md5(CAST(doc_id AS VARCHAR) || 'nb1'), 1, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', "
    "substr(md5(CAST(doc_id AS VARCHAR) || 'nb1'), 2, 1)) - 1)"
    " AS BIGINT) < 205 THEN 1 ELSE 0 END"
)
ORACLES["naive_bayes_lang_classify"] = f"""
    WITH d AS (
        SELECT doc_id, lang, {_TOKS} AS toks, {_NB_TR} AS tr
        FROM documents
    ), trn AS (SELECT * FROM d WHERE tr = 1),
    te AS (SELECT * FROM d WHERE tr <> 1),
    tok AS (SELECT lang AS y, unnest(toks) AS t FROM trn),
    c AS (SELECT y, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
    tot AS (SELECT y, CAST(sum(c) AS BIGINT) AS tot FROM c GROUP BY 1),
    v AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM c),
    dense AS (
        SELECT tot.y, vt.t,
               CAST(round(ln(CAST(coalesce(c.c, 0) + 1 AS DOUBLE)
                             / CAST(tot.tot + v.v AS DOUBLE)) * 1000000)
                    AS BIGINT) AS lp
        FROM (SELECT DISTINCT t FROM c) vt
        CROSS JOIN tot CROSS JOIN v
        LEFT JOIN c ON c.y = tot.y AND c.t = vt.t
    ), nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM trn),
    pr AS (
        SELECT lang AS y,
               CAST(round(ln(CAST(count(*) AS DOUBLE)
                             / CAST(max(nt.nt) AS DOUBLE)) * 1000000)
                    AS BIGINT) AS pr
        FROM trn CROSS JOIN nt GROUP BY lang
    ), tetok AS (
        SELECT doc_id, lang AS actual, unnest(toks) AS t FROM te
    ), ts AS (
        SELECT tetok.doc_id, tetok.actual, dense.y,
               CAST(sum(dense.lp) AS BIGINT) AS s
        FROM tetok JOIN dense ON tetok.t = dense.t
        GROUP BY 1, 2, 3
    ), sc AS (
        SELECT te.doc_id, te.lang AS actual, pr.y AS y,
               coalesce(ts.s, 0) + pr.pr AS score
        FROM te CROSS JOIN pr
        LEFT JOIN ts ON ts.doc_id = te.doc_id AND ts.y = pr.y
    ), p AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, y) AS r
        FROM sc
    )
    SELECT actual, y AS predicted, CAST(count(*) AS BIGINT) AS n_docs
    FROM p WHERE r = 1 GROUP BY 1, 2
"""

ORACLES["dupont_roe_decomposition"] = """
    WITH inc AS (
        SELECT user_id AS symbol,
               date_trunc('month', ts) AS fiscal_date,
               (CASE WHEN isnan(CAST((sum(value)) AS DOUBLE)) OR abs(CAST((sum(value)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value)) ELSE floor((sum(value)) * 1000000.0 + 0.5) / 1000000.0 END)       AS total_revenue,
               (CASE WHEN isnan(CAST((sum(value * 0.2)) AS DOUBLE)) OR abs(CAST((sum(value * 0.2)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value * 0.2)) ELSE floor((sum(value * 0.2)) * 1000000.0 + 0.5) / 1000000.0 END) AS net_income
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ), bal AS (
        SELECT user_id AS symbol,
               date_trunc('month', ts) AS fiscal_date,
               (CASE WHEN isnan(CAST((sum(value)) AS DOUBLE)) OR abs(CAST((sum(value)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value)) ELSE floor((sum(value)) * 1000000.0 + 0.5) / 1000000.0 END)       AS total_assets,
               (CASE WHEN isnan(CAST((sum(value * 0.4)) AS DOUBLE)) OR abs(CAST((sum(value * 0.4)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value * 0.4)) ELSE floor((sum(value * 0.4)) * 1000000.0 + 0.5) / 1000000.0 END) AS total_equity
        FROM events WHERE event_type = 'click'
        GROUP BY 1, 2
    )
    SELECT symbol, fiscal_date,
           (CASE WHEN isnan(CAST((net_income / nullif(total_revenue, 0)) AS DOUBLE)) OR abs(CAST((net_income / nullif(total_revenue, 0)) AS DOUBLE)) >= 4611686018427.388 THEN (net_income / nullif(total_revenue, 0)) ELSE floor((net_income / nullif(total_revenue, 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS net_margin,
           (CASE WHEN isnan(CAST((total_revenue / nullif(total_assets, 0)) AS DOUBLE)) OR abs(CAST((total_revenue / nullif(total_assets, 0)) AS DOUBLE)) >= 4611686018427.388 THEN (total_revenue / nullif(total_assets, 0)) ELSE floor((total_revenue / nullif(total_assets, 0)) * 1000000.0 + 0.5) / 1000000.0 END)
               AS asset_turnover,
           (CASE WHEN isnan(CAST((total_assets / nullif(total_equity, 0)) AS DOUBLE)) OR abs(CAST((total_assets / nullif(total_equity, 0)) AS DOUBLE)) >= 4611686018427.388 THEN (total_assets / nullif(total_equity, 0)) ELSE floor((total_assets / nullif(total_equity, 0)) * 1000000.0 + 0.5) / 1000000.0 END)
               AS equity_multiplier,
           (CASE WHEN isnan(CAST(((net_income / nullif(total_revenue, 0))
                 * (total_revenue / nullif(total_assets, 0))
                 * (total_assets / nullif(total_equity, 0))) AS DOUBLE)) OR abs(CAST(((net_income / nullif(total_revenue, 0))
                 * (total_revenue / nullif(total_assets, 0))
                 * (total_assets / nullif(total_equity, 0))) AS DOUBLE)) >= 4611686018427.388 THEN ((net_income / nullif(total_revenue, 0))
                 * (total_revenue / nullif(total_assets, 0))
                 * (total_assets / nullif(total_equity, 0))) ELSE floor(((net_income / nullif(total_revenue, 0))
                 * (total_revenue / nullif(total_assets, 0))
                 * (total_assets / nullif(total_equity, 0))) * 1000000.0 + 0.5) / 1000000.0 END)
               AS roe_dupont,
           (CASE WHEN isnan(CAST((net_income / nullif(total_equity, 0)) AS DOUBLE)) OR abs(CAST((net_income / nullif(total_equity, 0)) AS DOUBLE)) >= 4611686018427.388 THEN (net_income / nullif(total_equity, 0)) ELSE floor((net_income / nullif(total_equity, 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS roe_direct
    FROM inc JOIN bal USING (symbol, fiscal_date)
"""

ORACLES["indicator_real_terms"] = """
    WITH g AS (
        SELECT CAST(ts AS DATE) AS date, (CASE WHEN isnan(CAST((sum(value)) AS DOUBLE)) OR abs(CAST((sum(value)) AS DOUBLE)) >= 4611686018427.388 THEN (sum(value)) ELSE floor((sum(value)) * 1000000.0 + 0.5) / 1000000.0 END) AS nominal
        FROM events WHERE event_type = 'click' GROUP BY 1
    ), c AS (
        SELECT CAST(ts AS DATE) AS date, (CASE WHEN isnan(CAST((avg(value)) AS DOUBLE)) OR abs(CAST((avg(value)) AS DOUBLE)) >= 4611686018427.388 THEN (avg(value)) ELSE floor((avg(value)) * 1000000.0 + 0.5) / 1000000.0 END) AS cpi
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), j AS (SELECT g.date, nominal, cpi FROM g JOIN c USING (date)),
    b AS (SELECT cpi AS base_cpi FROM j ORDER BY date LIMIT 1),
    l AS (
        SELECT j.date, nominal, cpi, base_cpi,
               lag(nominal) OVER (ORDER BY j.date) AS prev
        FROM j CROSS JOIN b
    )
    SELECT date, nominal, cpi,
           (CASE WHEN isnan(CAST((nominal * base_cpi / nullif(cpi, 0)) AS DOUBLE)) OR abs(CAST((nominal * base_cpi / nullif(cpi, 0)) AS DOUBLE)) >= 4611686018427.388 THEN (nominal * base_cpi / nullif(cpi, 0)) ELSE floor((nominal * base_cpi / nullif(cpi, 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS real_value,
           (CASE WHEN isnan(CAST((nominal - prev) AS DOUBLE)) OR abs(CAST((nominal - prev) AS DOUBLE)) >= 4611686018427.388 THEN (nominal - prev) ELSE floor((nominal - prev) * 1000000.0 + 0.5) / 1000000.0 END) AS chg,
           (CASE WHEN isnan(CAST(((nominal - prev) / nullif(prev, 0) * 100.0) AS DOUBLE)) OR abs(CAST(((nominal - prev) / nullif(prev, 0) * 100.0) AS DOUBLE)) >= 4611686018427.388 THEN ((nominal - prev) / nullif(prev, 0) * 100.0) ELSE floor(((nominal - prev) / nullif(prev, 0) * 100.0) * 1000000.0 + 0.5) / 1000000.0 END) AS pch
    FROM l
"""

from finance_reporting_etl_spark.operators.resample import (  # noqa: E402
    ares_oracle_sql as _ares_sql,
)

ORACLES["weighted_ares_sample"] = _ares_sql(
    """SELECT l_partkey,
              CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                            AS BIGINT)) AS BIGINT) AS w_c
       FROM lineitem GROUP BY 1""",
    "l_partkey",
    "w_c",
    k=200,
    salt="ares1",
)

from finance_reporting_etl_spark.operators.ml import (  # noqa: E402
    ols2_oracle_sql as _ols2_sql,
)

ORACLES["ols_price_model_brand"] = _ols2_sql(
    """SELECT p.p_brand,
              CAST(round(l.l_quantity) AS BIGINT) AS x1,
              CAST(round(l.l_discount * 10000) AS BIGINT) AS x2,
              CAST(round(l.l_extendedprice * 100) AS BIGINT) AS y
       FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey""",
    "p_brand",
)

_MK_STATES = ["click", "error", "signup", "view"]
_MK_P = " + ".join(
    f"p_{s} * coalesce(v_{s}, 0.0)" for s in _MK_STATES
)
_MK_U = " + ".join(
    f"p_{s} * coalesce(u_{s}, 0.0)" for s in _MK_STATES
)
_MK_W_COLS = ",\n           ".join(
    f"CAST(coalesce(max(CASE WHEN dst = '{s}' THEN c END), 0) AS DOUBLE)"
    f" / CAST(sum(c) AS DOUBLE) AS p_{s}"
    for s in _MK_STATES
)
_MK_V1 = ", ".join(
    f"max(CASE WHEN src = '{s}' THEN p_absorb END) AS v_{s}"
    for s in _MK_STATES
)
_MK_V2 = ", ".join(
    f"max(CASE WHEN src = '{s}' THEN p2 END) AS u_{s}" for s in _MK_STATES
)
ORACLES["markov_absorption_3step"] = f"""
    WITH p AS (
        SELECT event_type AS src,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS dst
        FROM events
    ), c AS (
        SELECT src, dst, CAST(count(*) AS BIGINT) AS c
        FROM p WHERE dst IS NOT NULL AND src <> 'purchase'
        GROUP BY 1, 2
    ), w AS (
        SELECT src,
           {_MK_W_COLS},
           CAST(coalesce(max(CASE WHEN dst = 'purchase' THEN c END), 0)
                AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS p_absorb
        FROM c GROUP BY 1
    ), v1 AS (SELECT {_MK_V1} FROM w),
    w2 AS (
        SELECT w.*, p_absorb + {_MK_P} AS p2 FROM w CROSS JOIN v1
    ), v2 AS (SELECT {_MK_V2} FROM w2),
    w3 AS (
        SELECT w2.*, p_absorb + {_MK_U} AS p3 FROM w2 CROSS JOIN v2
    )
    SELECT src AS start_state,
           (CASE WHEN isnan(CAST((p_absorb) AS DOUBLE)) OR abs(CAST((p_absorb) AS DOUBLE)) >= 4611686018427.388 THEN (p_absorb) ELSE floor((p_absorb) * 1000000.0 + 0.5) / 1000000.0 END) AS p_1,
           (CASE WHEN isnan(CAST((p2) AS DOUBLE)) OR abs(CAST((p2) AS DOUBLE)) >= 4611686018427.388 THEN (p2) ELSE floor((p2) * 1000000.0 + 0.5) / 1000000.0 END) AS p_2,
           (CASE WHEN isnan(CAST((p3) AS DOUBLE)) OR abs(CAST((p3) AS DOUBLE)) >= 4611686018427.388 THEN (p3) ELSE floor((p3) * 1000000.0 + 0.5) / 1000000.0 END) AS p_3
    FROM w3
"""

from finance_reporting_etl_spark.operators.allocation import (  # noqa: E402
    wac_oracle_sql as _wac_sql,
)

_WAC_BASE = _wac_sql(
    """SELECT l_partkey,
              l_shipdate, l_orderkey, l_linenumber,
              CAST(round(l_quantity) AS BIGINT)
                  * CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END AS sq,
              CAST(round(l_extendedprice * 100) AS BIGINT) AS v
       FROM lineitem""",
    "l_partkey",
    "l_shipdate, l_orderkey, l_linenumber",
)
ORACLES["wac_inventory_brand"] = f"""
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(on_hand_qty) AS BIGINT) AS on_hand_qty,
           (CASE WHEN isnan(CAST((sum(inv_value_cents) / 100.0) AS DOUBLE)) OR abs(CAST((sum(inv_value_cents) / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN (sum(inv_value_cents) / 100.0) ELSE floor((sum(inv_value_cents) / 100.0) * 100.0 + 0.5) / 100.0 END) AS inv_value,
           (CASE WHEN isnan(CAST((sum(realized_cents) / 100.0) AS DOUBLE)) OR abs(CAST((sum(realized_cents) / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN (sum(realized_cents) / 100.0) ELSE floor((sum(realized_cents) / 100.0) * 100.0 + 0.5) / 100.0 END) AS realized_pnl
    FROM ({_WAC_BASE}) base
    JOIN part ON p_partkey = l_partkey
    GROUP BY 1
"""

ORACLES["zipf_law_fit"] = f"""
    WITH tk AS (
        SELECT lang, unnest(toks) AS tok
        FROM (SELECT lang, {_TOKS} AS toks FROM documents)
    ), fr AS (
        SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
        FROM tk GROUP BY 1, 2
    ), rk AS (
        SELECT lang, c,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY c DESC, tok) AS rank
        FROM fr
    ), xy AS (
        SELECT lang,
               CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS x,
               CAST(round(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS y
        FROM rk WHERE rank <= 500
    ), a AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_obs,
               CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM xy GROUP BY 1
    )
    SELECT lang, n_obs,
           (CASE WHEN isnan(CAST((CAST(n_obs * sxy - sx * sy AS DOUBLE)
                 / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0.0)) AS DOUBLE)) OR abs(CAST((CAST(n_obs * sxy - sx * sy AS DOUBLE)
                 / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0.0)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(n_obs * sxy - sx * sy AS DOUBLE)
                 / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0.0)) ELSE floor((CAST(n_obs * sxy - sx * sy AS DOUBLE)
                 / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0.0)) * 1000000.0 + 0.5) / 1000000.0 END)
               AS beta,
           (CASE WHEN isnan(CAST(((CAST(sy AS DOUBLE)
                  - (CAST(n_obs * sxy - sx * sy AS DOUBLE)
                     / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0.0))
                    * CAST(sx AS DOUBLE))
                 / CAST(n_obs AS DOUBLE)) AS DOUBLE)) OR abs(CAST(((CAST(sy AS DOUBLE)
                  - (CAST(n_obs * sxy - sx * sy AS DOUBLE)
                     / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0.0))
                    * CAST(sx AS DOUBLE))
                 / CAST(n_obs AS DOUBLE)) AS DOUBLE)) >= 4611686018427.388 THEN ((CAST(sy AS DOUBLE)
                  - (CAST(n_obs * sxy - sx * sy AS DOUBLE)
                     / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0.0))
                    * CAST(sx AS DOUBLE))
                 / CAST(n_obs AS DOUBLE)) ELSE floor(((CAST(sy AS DOUBLE)
                  - (CAST(n_obs * sxy - sx * sy AS DOUBLE)
                     / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0.0))
                    * CAST(sx AS DOUBLE))
                 / CAST(n_obs AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 END) AS alpha,
           (CASE WHEN isnan(CAST(((CAST(n_obs * sxy - sx * sy AS DOUBLE)
                  * CAST(n_obs * sxy - sx * sy AS DOUBLE))
                 / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE)
                          * CAST(n_obs * syy - sy * sy AS DOUBLE), 0.0)) AS DOUBLE)) OR abs(CAST(((CAST(n_obs * sxy - sx * sy AS DOUBLE)
                  * CAST(n_obs * sxy - sx * sy AS DOUBLE))
                 / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE)
                          * CAST(n_obs * syy - sy * sy AS DOUBLE), 0.0)) AS DOUBLE)) >= 4611686018427.388 THEN ((CAST(n_obs * sxy - sx * sy AS DOUBLE)
                  * CAST(n_obs * sxy - sx * sy AS DOUBLE))
                 / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE)
                          * CAST(n_obs * syy - sy * sy AS DOUBLE), 0.0)) ELSE floor(((CAST(n_obs * sxy - sx * sy AS DOUBLE)
                  * CAST(n_obs * sxy - sx * sy AS DOUBLE))
                 / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE)
                          * CAST(n_obs * syy - sy * sy AS DOUBLE), 0.0)) * 1000000.0 + 0.5) / 1000000.0 END)
               AS r2
    FROM a
"""

ORACLES["mahalanobis_outlier_events"] = """
    WITH src AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS x,
               CAST(hour(ts) AS BIGINT) AS y
        FROM events WHERE value IS NOT NULL
    ), m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(CAST(count(*) AS HUGEINT) AS DOUBLE) AS n,
               CAST(CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS DOUBLE) AS sx,
               CAST(CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS DOUBLE) AS sy,
               CAST(CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS DOUBLE)
                   AS sxx,
               CAST(CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS DOUBLE)
                   AS sxy,
               CAST(CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS DOUBLE)
                   AS syy
        FROM src GROUP BY 1
    ), d AS (
        SELECT src.event_type, m.n_events,
               CASE WHEN ((sxx / n - (sx / n) * (sx / n))
                          * (syy / n - (sy / n) * (sy / n))
                          - (sxy / n - (sx / n) * (sy / n))
                            * (sxy / n - (sx / n) * (sy / n))) > 0
                     AND ((syy / n - (sy / n) * (sy / n))
                            * (CAST(x AS DOUBLE) - sx / n)
                            * (CAST(x AS DOUBLE) - sx / n)
                          - 2.0 * (sxy / n - (sx / n) * (sy / n))
                            * (CAST(x AS DOUBLE) - sx / n)
                            * (CAST(y AS DOUBLE) - sy / n)
                          + (sxx / n - (sx / n) * (sx / n))
                            * (CAST(y AS DOUBLE) - sy / n)
                            * (CAST(y AS DOUBLE) - sy / n))
                         / ((sxx / n - (sx / n) * (sx / n))
                            * (syy / n - (sy / n) * (sy / n))
                            - (sxy / n - (sx / n) * (sy / n))
                              * (sxy / n - (sx / n) * (sy / n)))
                         > 13.815510557964274
                    THEN 1 ELSE 0 END AS f
        FROM src JOIN m USING (event_type)
    )
    SELECT event_type,
           CAST(max(n_events) AS BIGINT) AS n_events,
           CAST(sum(f) AS BIGINT) AS n_outliers,
           (CASE WHEN isnan(CAST((CAST(sum(f) AS DOUBLE) / CAST(max(n_events) AS DOUBLE)) AS DOUBLE)) OR abs(CAST((CAST(sum(f) AS DOUBLE) / CAST(max(n_events) AS DOUBLE)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(f) AS DOUBLE) / CAST(max(n_events) AS DOUBLE)) ELSE floor((CAST(sum(f) AS DOUBLE) / CAST(max(n_events) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 END)
               AS outlier_rate
    FROM d GROUP BY 1
"""

ORACLES["seasonal_naive_backtest"] = """
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ), l AS (
        SELECT event_type, day, c,
               lag(c, 7) OVER (PARTITION BY event_type ORDER BY day) AS f
        FROM d
    ), e AS (
        SELECT event_type, c, CAST(c - f AS BIGINT) AS err
        FROM l WHERE f IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_eval,
           (CASE WHEN isnan(CAST((CAST(sum(abs(err)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 100.0) AS DOUBLE)) OR abs(CAST((CAST(sum(abs(err)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN (CAST(sum(abs(err)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 100.0) ELSE floor((CAST(sum(abs(err)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 100.0) * 100.0 + 0.5) / 100.0 END) AS mae,
           (CASE WHEN isnan(CAST((sqrt(CAST(CAST(sum(CAST(err AS HUGEINT) * err) AS HUGEINT)
                           AS DOUBLE)
                      / CAST(count(*) AS DOUBLE)) / 100.0) AS DOUBLE)) OR abs(CAST((sqrt(CAST(CAST(sum(CAST(err AS HUGEINT) * err) AS HUGEINT)
                           AS DOUBLE)
                      / CAST(count(*) AS DOUBLE)) / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN (sqrt(CAST(CAST(sum(CAST(err AS HUGEINT) * err) AS HUGEINT)
                           AS DOUBLE)
                      / CAST(count(*) AS DOUBLE)) / 100.0) ELSE floor((sqrt(CAST(CAST(sum(CAST(err AS HUGEINT) * err) AS HUGEINT)
                           AS DOUBLE)
                      / CAST(count(*) AS DOUBLE)) / 100.0) * 100.0 + 0.5) / 100.0 END) AS rmse,
           (CASE WHEN isnan(CAST((CAST(sum(abs(err)) AS DOUBLE)
                 / nullif(CAST(sum(abs(c)) AS DOUBLE), 0.0)) AS DOUBLE)) OR abs(CAST((CAST(sum(abs(err)) AS DOUBLE)
                 / nullif(CAST(sum(abs(c)) AS DOUBLE), 0.0)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(abs(err)) AS DOUBLE)
                 / nullif(CAST(sum(abs(c)) AS DOUBLE), 0.0)) ELSE floor((CAST(sum(abs(err)) AS DOUBLE)
                 / nullif(CAST(sum(abs(c)) AS DOUBLE), 0.0)) * 1000000.0 + 0.5) / 1000000.0 END) AS wape
    FROM e GROUP BY 1
"""

from finance_reporting_etl_spark.operators.ml import (  # noqa: E402
    reg_stump_candidates_sql as _rsc_sql,
)

_GBT_BASE = """
        SELECT CAST(round(l_quantity) AS BIGINT) AS f_qty,
               CAST(round(l_discount * 10000) AS BIGINT) AS f_disc,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
"""
_GBT_MELT = (
    "SELECT 'f_disc' AS feature, f_disc AS v, y FROM {src} "
    "UNION ALL SELECT 'f_qty', f_qty, y FROM {src}"
)
_GBT_APPLY = (
    "b.y - (CASE WHEN (CASE WHEN r.feature = 'f_qty' THEN b.f_qty "
    "ELSE b.f_disc END) <= r.thr THEN r.pred_l ELSE r.pred_r END)"
)
ORACLES["gbt_price_residual_stumps"] = f"""
    WITH base AS ({_GBT_BASE}),
    m1 AS ({_GBT_MELT.format(src="base")}),
    b1 AS (
        SELECT * FROM ({_rsc_sql("m1")})
        QUALIFY row_number() OVER (ORDER BY gain DESC, feature, thr) = 1
    ),
    res1 AS (
        SELECT b.f_qty, b.f_disc, CAST({_GBT_APPLY} AS BIGINT) AS y
        FROM base b CROSS JOIN b1 r
    ),
    s1 AS (
        SELECT CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS sse,
               CAST(count(*) AS BIGINT) AS n
        FROM res1
    ),
    m2 AS ({_GBT_MELT.format(src="res1")}),
    b2 AS (
        SELECT * FROM ({_rsc_sql("m2")})
        QUALIFY row_number() OVER (ORDER BY gain DESC, feature, thr) = 1
    ),
    res2 AS (
        SELECT CAST({_GBT_APPLY} AS BIGINT) AS y
        FROM res1 b CROSS JOIN b2 r
    ),
    s2 AS (
        SELECT CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS sse,
               CAST(count(*) AS BIGINT) AS n
        FROM res2
    )
    SELECT CAST(1 AS INT) AS round, feature, thr, pred_l, pred_r,
           (CASE WHEN isnan(CAST((sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0) AS DOUBLE)) OR abs(CAST((sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN (sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0) ELSE floor((sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0) * 100.0 + 0.5) / 100.0 END)
               AS rmse_after
    FROM b1 CROSS JOIN s1
    UNION ALL
    SELECT CAST(2 AS INT), feature, thr, pred_l, pred_r,
           (CASE WHEN isnan(CAST((sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0) AS DOUBLE)) OR abs(CAST((sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN (sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0) ELSE floor((sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0) * 100.0 + 0.5) / 100.0 END)
    FROM b2 CROSS JOIN s2
"""

ORACLES["pareto_frontier_parts"] = """
    WITH p AS (
        SELECT p_brand, p_partkey,
               CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
               CAST(p_size AS BIGINT) AS p_size
        FROM part
    ), r AS (
        SELECT *,
               max(p_size) OVER (PARTITION BY p_brand
                                 ORDER BY price_cents, p_size DESC, p_partkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS prev_max
        FROM p
    )
    SELECT p_brand, p_partkey, price_cents, p_size
    FROM r WHERE prev_max IS NULL OR p_size > prev_max
"""

ORACLES["ab_srm_check"] = """
    WITH u AS (
        SELECT DISTINCT user_id,
               CASE WHEN CAST((instr('0123456789abcdef',
                                     substr(md5(CAST(user_id AS VARCHAR)
                                                || 'ab1'), 1, 1)) - 1) * 16
                         + (instr('0123456789abcdef',
                                  substr(md5(CAST(user_id AS VARCHAR)
                                             || 'ab1'), 2, 1)) - 1)
                         AS BIGINT) % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm
        FROM events
    ), c AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b
        FROM u
    )
    SELECT n_users, n_a, n_b,
           (CASE WHEN isnan(CAST((CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                 / CAST(n_users AS DOUBLE)) AS DOUBLE)) OR abs(CAST((CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                 / CAST(n_users AS DOUBLE)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                 / CAST(n_users AS DOUBLE)) ELSE floor((CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                 / CAST(n_users AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 END) AS chi2,
           CASE WHEN CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                     / CAST(n_users AS DOUBLE) > 3.841458820694124
                THEN 1 ELSE 0 END AS srm_flag_95,
           CASE WHEN CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                     / CAST(n_users AS DOUBLE) > 10.827566170662733
                THEN 1 ELSE 0 END AS srm_flag_999
    FROM c
"""

ORACLES["fuzzy_name_match_pairs"] = """
    WITH c AS (
        SELECT c_custkey, c_name, c_nationkey,
               substr(c_name, 1, 14) AS block
        FROM customer
    )
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist,
           CASE WHEN a.c_nationkey = b.c_nationkey THEN 1 ELSE 0 END
               AS same_nation
    FROM c a JOIN c b
      ON a.block = b.block AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
"""

ORACLES["kendall_tau_daily"] = """
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS y
        FROM orders GROUP BY 1
    ), p AS (
        SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
        FROM d a JOIN d b ON a.day < b.day
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN (x1 < x2 AND y1 < y2)
                              OR (x1 > x2 AND y1 > y2) THEN 1 ELSE 0 END)
                    AS BIGINT) AS concordant,
               CAST(sum(CASE WHEN (x1 < x2 AND y1 > y2)
                              OR (x1 > x2 AND y1 < y2) THEN 1 ELSE 0 END)
                    AS BIGINT) AS discordant,
               CAST(sum(CASE WHEN x1 = x2 AND y1 <> y2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tx,
               CAST(sum(CASE WHEN y1 = y2 AND x1 <> x2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS ty,
               CAST(sum(CASE WHEN x1 = x2 AND y1 = y2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS txy
        FROM p
    )
    SELECT n_pairs, concordant, discordant,
           (CASE WHEN isnan(CAST((CAST(concordant - discordant AS DOUBLE)
                 / nullif(sqrt(CAST(n_pairs - (tx + txy) AS DOUBLE)
                               * CAST(n_pairs - (ty + txy) AS DOUBLE)), 0.0)) AS DOUBLE)) OR abs(CAST((CAST(concordant - discordant AS DOUBLE)
                 / nullif(sqrt(CAST(n_pairs - (tx + txy) AS DOUBLE)
                               * CAST(n_pairs - (ty + txy) AS DOUBLE)), 0.0)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(concordant - discordant AS DOUBLE)
                 / nullif(sqrt(CAST(n_pairs - (tx + txy) AS DOUBLE)
                               * CAST(n_pairs - (ty + txy) AS DOUBLE)), 0.0)) ELSE floor((CAST(concordant - discordant AS DOUBLE)
                 / nullif(sqrt(CAST(n_pairs - (tx + txy) AS DOUBLE)
                               * CAST(n_pairs - (ty + txy) AS DOUBLE)), 0.0)) * 1000000.0 + 0.5) / 1000000.0 END) AS tau_b
    FROM agg
"""

ORACLES["tail_dependence_segments"] = """
    WITH seg AS (
        SELECT c.c_mktsegment AS seg, CAST(o.o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
        GROUP BY 1, 2
    ), j AS (
        SELECT a.day, a.cents AS x, b.cents AS y
        FROM (SELECT day, cents FROM seg WHERE seg = 'BUILDING') a
        JOIN (SELECT day, cents FROM seg WHERE seg = 'MACHINERY') b
          USING (day)
    ), r AS (
        SELECT day, x, y,
               CAST(count(*) OVER () AS BIGINT) AS n,
               row_number() OVER (ORDER BY x DESC, day) AS rx_hi,
               row_number() OVER (ORDER BY y DESC, day) AS ry_hi,
               row_number() OVER (ORDER BY x ASC, day) AS rx_lo,
               row_number() OVER (ORDER BY y ASC, day) AS ry_lo
        FROM j
    ), k AS (SELECT *, (n + 9) // 10 AS kt FROM r)
    SELECT CAST(max(n) AS BIGINT) AS n_days,
           CAST(max(kt) AS BIGINT) AS k_tail,
           CAST(sum(CASE WHEN rx_hi <= kt AND ry_hi <= kt THEN 1 ELSE 0 END)
                AS BIGINT) AS joint_upper,
           CAST(sum(CASE WHEN rx_lo <= kt AND ry_lo <= kt THEN 1 ELSE 0 END)
                AS BIGINT) AS joint_lower,
           (CASE WHEN isnan(CAST((CAST(sum(CASE WHEN rx_hi <= kt AND ry_hi <= kt
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(max(kt) AS DOUBLE)) AS DOUBLE)) OR abs(CAST((CAST(sum(CASE WHEN rx_hi <= kt AND ry_hi <= kt
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(max(kt) AS DOUBLE)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(CASE WHEN rx_hi <= kt AND ry_hi <= kt
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(max(kt) AS DOUBLE)) ELSE floor((CAST(sum(CASE WHEN rx_hi <= kt AND ry_hi <= kt
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(max(kt) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 END) AS lambda_upper,
           (CASE WHEN isnan(CAST((CAST(sum(CASE WHEN rx_lo <= kt AND ry_lo <= kt
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(max(kt) AS DOUBLE)) AS DOUBLE)) OR abs(CAST((CAST(sum(CASE WHEN rx_lo <= kt AND ry_lo <= kt
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(max(kt) AS DOUBLE)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(CASE WHEN rx_lo <= kt AND ry_lo <= kt
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(max(kt) AS DOUBLE)) ELSE floor((CAST(sum(CASE WHEN rx_lo <= kt AND ry_lo <= kt
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(max(kt) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 END) AS lambda_lower
    FROM k
"""

ORACLES["duplicate_payment_audit"] = """
    WITH o AS (
        SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS day,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT a.o_custkey,
           a.o_orderkey AS key_a, b.o_orderkey AS key_b,
           CAST(abs(date_diff('day', a.day, b.day)) AS BIGINT) AS day_gap,
           CAST(abs(a.cents - b.cents) AS BIGINT) AS cents_diff
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
    WHERE abs(date_diff('day', a.day, b.day)) <= 7
      AND abs(a.cents - b.cents) * 20 <= greatest(a.cents, b.cents)
"""

ORACLES["last_digit_uniformity"] = """
    WITH d AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) % 10 AS digit
        FROM orders
    ), c AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS obs FROM d GROUP BY 1
    ), a AS (
        SELECT CAST(sum(obs) AS BIGINT) AS n,
               CAST(sum(obs * obs) AS BIGINT) AS ss,
               CAST(min(obs) AS BIGINT) AS min_digit_n,
               CAST(max(obs) AS BIGINT) AS max_digit_n
        FROM c
    )
    SELECT n, min_digit_n, max_digit_n,
           (CASE WHEN isnan(CAST((CAST(10 * ss AS DOUBLE) / CAST(n AS DOUBLE)
                 - CAST(n AS DOUBLE)) AS DOUBLE)) OR abs(CAST((CAST(10 * ss AS DOUBLE) / CAST(n AS DOUBLE)
                 - CAST(n AS DOUBLE)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(10 * ss AS DOUBLE) / CAST(n AS DOUBLE)
                 - CAST(n AS DOUBLE)) ELSE floor((CAST(10 * ss AS DOUBLE) / CAST(n AS DOUBLE)
                 - CAST(n AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 END) AS chi2,
           CASE WHEN CAST(10 * ss AS DOUBLE) / CAST(n AS DOUBLE)
                     - CAST(n AS DOUBLE) > 16.918977604620448
                THEN 1 ELSE 0 END AS nonuniform_95,
           CASE WHEN CAST(10 * ss AS DOUBLE) / CAST(n AS DOUBLE)
                     - CAST(n AS DOUBLE) > 27.877
                THEN 1 ELSE 0 END AS nonuniform_999
    FROM a
"""

ORACLES["ucb1_arm_scores"] = """
    WITH a AS (
        SELECT event_type AS arm,
               CAST(count(*) AS BIGINT) AS n_pulls,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events WHERE value IS NOT NULL
        GROUP BY 1
    ), t AS (SELECT CAST(sum(n_pulls) AS BIGINT) AS big_n FROM a)
    SELECT arm, n_pulls,
           (CASE WHEN isnan(CAST((CAST(cents AS DOUBLE) / CAST(n_pulls AS DOUBLE) / 100.0) AS DOUBLE)) OR abs(CAST((CAST(cents AS DOUBLE) / CAST(n_pulls AS DOUBLE) / 100.0) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(cents AS DOUBLE) / CAST(n_pulls AS DOUBLE) / 100.0) ELSE floor((CAST(cents AS DOUBLE) / CAST(n_pulls AS DOUBLE) / 100.0) * 1000000.0 + 0.5) / 1000000.0 END)
               AS mean_value,
           (CASE WHEN isnan(CAST((CAST(cents AS DOUBLE) / CAST(n_pulls AS DOUBLE) / 100.0
                 + 100.0 * sqrt(2.0 * ln(CAST(big_n AS DOUBLE))
                                / CAST(n_pulls AS DOUBLE))) AS DOUBLE)) OR abs(CAST((CAST(cents AS DOUBLE) / CAST(n_pulls AS DOUBLE) / 100.0
                 + 100.0 * sqrt(2.0 * ln(CAST(big_n AS DOUBLE))
                                / CAST(n_pulls AS DOUBLE))) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(cents AS DOUBLE) / CAST(n_pulls AS DOUBLE) / 100.0
                 + 100.0 * sqrt(2.0 * ln(CAST(big_n AS DOUBLE))
                                / CAST(n_pulls AS DOUBLE))) ELSE floor((CAST(cents AS DOUBLE) / CAST(n_pulls AS DOUBLE) / 100.0
                 + 100.0 * sqrt(2.0 * ln(CAST(big_n AS DOUBLE))
                                / CAST(n_pulls AS DOUBLE))) * 1000000.0 + 0.5) / 1000000.0 END) AS ucb_score,
           CAST(row_number() OVER (
               ORDER BY CAST(cents AS DOUBLE) / CAST(n_pulls AS DOUBLE) / 100.0
                        + 100.0 * sqrt(2.0 * ln(CAST(big_n AS DOUBLE))
                                       / CAST(n_pulls AS DOUBLE)) DESC,
                        arm) AS INT) AS rank
    FROM a CROSS JOIN t
"""

ORACLES["woe_iv_discount_bins"] = """
    WITH d AS (
        SELECT CAST(round(l_discount * 10000) AS BIGINT) AS bin_bp,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ), b AS (
        SELECT bin_bp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS n_bad
        FROM d GROUP BY 1
    ), t AS (
        SELECT CAST(sum(n_bad) AS BIGINT) AS tot_bad,
               CAST(sum(n - n_bad) AS BIGINT) AS tot_good
        FROM b
    )
    SELECT bin_bp, n, n_bad,
           (CASE WHEN isnan(CAST((ln((CAST(n_bad AS DOUBLE) + 0.5)
                    / (CAST(tot_bad AS DOUBLE) + 0.5)
                    / ((CAST(n - n_bad AS DOUBLE) + 0.5)
                       / (CAST(tot_good AS DOUBLE) + 0.5)))) AS DOUBLE)) OR abs(CAST((ln((CAST(n_bad AS DOUBLE) + 0.5)
                    / (CAST(tot_bad AS DOUBLE) + 0.5)
                    / ((CAST(n - n_bad AS DOUBLE) + 0.5)
                       / (CAST(tot_good AS DOUBLE) + 0.5)))) AS DOUBLE)) >= 4611686018427.388 THEN (ln((CAST(n_bad AS DOUBLE) + 0.5)
                    / (CAST(tot_bad AS DOUBLE) + 0.5)
                    / ((CAST(n - n_bad AS DOUBLE) + 0.5)
                       / (CAST(tot_good AS DOUBLE) + 0.5)))) ELSE floor((ln((CAST(n_bad AS DOUBLE) + 0.5)
                    / (CAST(tot_bad AS DOUBLE) + 0.5)
                    / ((CAST(n - n_bad AS DOUBLE) + 0.5)
                       / (CAST(tot_good AS DOUBLE) + 0.5)))) * 1000000.0 + 0.5) / 1000000.0 END) AS woe,
           (CASE WHEN isnan(CAST((((CAST(n_bad AS DOUBLE) + 0.5)
                  / (CAST(tot_bad AS DOUBLE) + 0.5)
                  - (CAST(n - n_bad AS DOUBLE) + 0.5)
                    / (CAST(tot_good AS DOUBLE) + 0.5))
                 * ln((CAST(n_bad AS DOUBLE) + 0.5)
                      / (CAST(tot_bad AS DOUBLE) + 0.5)
                      / ((CAST(n - n_bad AS DOUBLE) + 0.5)
                         / (CAST(tot_good AS DOUBLE) + 0.5)))) AS DOUBLE)) OR abs(CAST((((CAST(n_bad AS DOUBLE) + 0.5)
                  / (CAST(tot_bad AS DOUBLE) + 0.5)
                  - (CAST(n - n_bad AS DOUBLE) + 0.5)
                    / (CAST(tot_good AS DOUBLE) + 0.5))
                 * ln((CAST(n_bad AS DOUBLE) + 0.5)
                      / (CAST(tot_bad AS DOUBLE) + 0.5)
                      / ((CAST(n - n_bad AS DOUBLE) + 0.5)
                         / (CAST(tot_good AS DOUBLE) + 0.5)))) AS DOUBLE)) >= 4611686018427.388 THEN (((CAST(n_bad AS DOUBLE) + 0.5)
                  / (CAST(tot_bad AS DOUBLE) + 0.5)
                  - (CAST(n - n_bad AS DOUBLE) + 0.5)
                    / (CAST(tot_good AS DOUBLE) + 0.5))
                 * ln((CAST(n_bad AS DOUBLE) + 0.5)
                      / (CAST(tot_bad AS DOUBLE) + 0.5)
                      / ((CAST(n - n_bad AS DOUBLE) + 0.5)
                         / (CAST(tot_good AS DOUBLE) + 0.5)))) ELSE floor((((CAST(n_bad AS DOUBLE) + 0.5)
                  / (CAST(tot_bad AS DOUBLE) + 0.5)
                  - (CAST(n - n_bad AS DOUBLE) + 0.5)
                    / (CAST(tot_good AS DOUBLE) + 0.5))
                 * ln((CAST(n_bad AS DOUBLE) + 0.5)
                      / (CAST(tot_bad AS DOUBLE) + 0.5)
                      / ((CAST(n - n_bad AS DOUBLE) + 0.5)
                         / (CAST(tot_good AS DOUBLE) + 0.5)))) * 1000000.0 + 0.5) / 1000000.0 END)
               AS iv_contrib
    FROM b CROSS JOIN t
"""

ORACLES["event_step_paths"] = """
    WITH r AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), f AS (SELECT * FROM r WHERE rn <= 4),
    e AS (
        SELECT a.rn AS step, a.event_type AS src, b.event_type AS dst
        FROM f a JOIN f b ON a.user_id = b.user_id AND b.rn = a.rn + 1
    )
    SELECT CAST(step AS INT) AS step, src, dst,
           CAST(count(*) AS BIGINT) AS n_users
    FROM e GROUP BY 1, 2, 3
"""

ORACLES["cohort_payback_month"] = """
    WITH first_m AS (
        SELECT o_custkey,
               CAST(min(date_trunc('month', o_orderdate)) AS DATE) AS cohort
        FROM orders GROUP BY 1
    ), rev AS (
        SELECT f.cohort,
               CAST(date_diff('month', f.cohort,
                              date_trunc('month', o.o_orderdate)) AS BIGINT)
                   AS offs,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN first_m f ON o.o_custkey = f.o_custkey
        GROUP BY 1, 2
    ), size_ AS (
        SELECT cohort, CAST(count(*) AS BIGINT) AS n_customers
        FROM first_m GROUP BY 1
    ), cum AS (
        SELECT r.cohort, r.offs, s.n_customers,
               CAST(sum(r.cents) OVER (PARTITION BY r.cohort ORDER BY r.offs
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
        FROM rev r JOIN size_ s USING (cohort)
    )
    SELECT cohort, CAST(max(n_customers) AS BIGINT) AS n_customers,
           CAST(min(CASE WHEN cum_cents >= n_customers * 5000000
                         THEN offs END) AS BIGINT) AS payback_offset
    FROM cum GROUP BY 1
"""

# ---------------------------------------------------------------- round 7

ORACLES["compaction_bin_packing"] = """
    WITH f AS (
        SELECT l_returnflag AS pt_flag, l_linestatus AS pt_status,
               l_suppkey AS file_id,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS size_bytes
        FROM lineitem GROUP BY 1, 2, 3
    ), e AS (
        SELECT pt_flag, pt_status, file_id, size_bytes,
               CAST(coalesce(sum(size_bytes) OVER (
                        PARTITION BY pt_flag, pt_status
                        ORDER BY size_bytes DESC, file_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS excl
        FROM f
    )
    SELECT pt_flag, pt_status, file_id, size_bytes,
           CAST(excl // 100000000 AS BIGINT) AS bin_id
    FROM e
"""

ORACLES["price_volume_mix_decomposition"] = """
    WITH y AS (
        SELECT p.p_brand AS brand,
               CAST(year(l.l_shipdate) AS INT) AS yr,
               CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT)
                   AS qty,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= DATE '1997-01-01'
          AND l.l_shipdate < DATE '1999-01-01'
        GROUP BY 1, 2
    ), w AS (
        SELECT a.brand,
               a.qty AS q0, a.cents AS c0, b.qty AS q1, b.cents AS c1,
               CAST(a.cents AS DOUBLE) / a.qty AS p0,
               CAST(b.cents AS DOUBLE) / b.qty AS p1
        FROM (SELECT * FROM y WHERE yr = 1997) a
        JOIN (SELECT * FROM y WHERE yr = 1998) b USING (brand)
        WHERE a.qty > 0 AND b.qty > 0
    )
    SELECT brand,
           (CASE WHEN isnan(CAST((c0 / 100.0) AS DOUBLE)) OR abs(CAST((c0 / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN (c0 / 100.0) ELSE floor((c0 / 100.0) * 100.0 + 0.5) / 100.0 END) AS rev_base,
           (CASE WHEN isnan(CAST((c1 / 100.0) AS DOUBLE)) OR abs(CAST((c1 / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN (c1 / 100.0) ELSE floor((c1 / 100.0) * 100.0 + 0.5) / 100.0 END) AS rev_curr,
           (CASE WHEN isnan(CAST(((p1 - p0) * q0 / 100.0) AS DOUBLE)) OR abs(CAST(((p1 - p0) * q0 / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN ((p1 - p0) * q0 / 100.0) ELSE floor(((p1 - p0) * q0 / 100.0) * 100.0 + 0.5) / 100.0 END) AS price_effect,
           (CASE WHEN isnan(CAST(((q1 - q0) * p0 / 100.0) AS DOUBLE)) OR abs(CAST(((q1 - q0) * p0 / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN ((q1 - q0) * p0 / 100.0) ELSE floor(((q1 - q0) * p0 / 100.0) * 100.0 + 0.5) / 100.0 END) AS volume_effect,
           (CASE WHEN isnan(CAST(((p1 - p0) * (q1 - q0) / 100.0) AS DOUBLE)) OR abs(CAST(((p1 - p0) * (q1 - q0) / 100.0) AS DOUBLE)) >= 4.611686018427388e+16 THEN ((p1 - p0) * (q1 - q0) / 100.0) ELSE floor(((p1 - p0) * (q1 - q0) / 100.0) * 100.0 + 0.5) / 100.0 END) AS mix_effect
    FROM w
"""

ORACLES["cuped_adjusted_lift"] = """
    WITH b AS (
        SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us
        FROM events WHERE value IS NOT NULL
    ), u AS (
        SELECT user_id,
               CASE WHEN CAST((instr('0123456789abcdef',
                         substr(md5(CAST(user_id AS VARCHAR) || 'cuped'), 1, 1)) - 1) * 16
                       + (instr('0123456789abcdef',
                         substr(md5(CAST(user_id AS VARCHAR) || 'cuped'), 2, 1)) - 1)
                         AS BIGINT) % 2 = 0
                    THEN 'A' ELSE 'B' END AS arm,
               CAST(sum(CASE WHEN epoch_us(ts) < b.mid_us
                             THEN CAST(round(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN epoch_us(ts) >= b.mid_us
                             THEN CAST(round(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y
        FROM events CROSS JOIN b WHERE value IS NOT NULL
        GROUP BY 1, 2
    ), g AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM u
    ), arms AS (
        SELECT CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
               CAST(sum(CASE WHEN arm = 'A' THEN x ELSE 0 END) AS BIGINT) AS sxa,
               CAST(sum(CASE WHEN arm = 'B' THEN x ELSE 0 END) AS BIGINT) AS sxb,
               CAST(sum(CASE WHEN arm = 'A' THEN y ELSE 0 END) AS BIGINT) AS sya,
               CAST(sum(CASE WHEN arm = 'B' THEN y ELSE 0 END) AS BIGINT) AS syb
        FROM u
    ), t AS (
        SELECT n, na, nb,
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                   / nullif(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n, 0)
                   AS theta,
               CAST(sx AS DOUBLE) / n AS mx,
               (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1)
                   AS var_y,
               sxa, sxb, sya, syb, sxx, syy, sxy, sx, sy
        FROM g CROSS JOIN arms
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           (CASE WHEN isnan(CAST((theta) AS DOUBLE)) OR abs(CAST((theta) AS DOUBLE)) >= 4611686018427.388 THEN (theta) ELSE floor((theta) * 1000000.0 + 0.5) / 1000000.0 END) AS theta,
           (CASE WHEN isnan(CAST(((CAST(sya AS DOUBLE) / na - CAST(syb AS DOUBLE) / nb)
                 / 100.0) AS DOUBLE)) OR abs(CAST(((CAST(sya AS DOUBLE) / na - CAST(syb AS DOUBLE) / nb)
                 / 100.0) AS DOUBLE)) >= 4611686018427.388 THEN ((CAST(sya AS DOUBLE) / na - CAST(syb AS DOUBLE) / nb)
                 / 100.0) ELSE floor(((CAST(sya AS DOUBLE) / na - CAST(syb AS DOUBLE) / nb)
                 / 100.0) * 1000000.0 + 0.5) / 1000000.0 END) AS raw_lift,
           (CASE WHEN isnan(CAST((((CAST(sya AS DOUBLE) / na - theta * (CAST(sxa AS DOUBLE) / na - mx))
                  - (CAST(syb AS DOUBLE) / nb - theta * (CAST(sxb AS DOUBLE) / nb - mx)))
                 / 100.0) AS DOUBLE)) OR abs(CAST((((CAST(sya AS DOUBLE) / na - theta * (CAST(sxa AS DOUBLE) / na - mx))
                  - (CAST(syb AS DOUBLE) / nb - theta * (CAST(sxb AS DOUBLE) / nb - mx)))
                 / 100.0) AS DOUBLE)) >= 4611686018427.388 THEN (((CAST(sya AS DOUBLE) / na - theta * (CAST(sxa AS DOUBLE) / na - mx))
                  - (CAST(syb AS DOUBLE) / nb - theta * (CAST(sxb AS DOUBLE) / nb - mx)))
                 / 100.0) ELSE floor((((CAST(sya AS DOUBLE) / na - theta * (CAST(sxa AS DOUBLE) / na - mx))
                  - (CAST(syb AS DOUBLE) / nb - theta * (CAST(sxb AS DOUBLE) / nb - mx)))
                 / 100.0) * 1000000.0 + 0.5) / 1000000.0 END) AS adjusted_lift,
           (CASE WHEN isnan(CAST((1.0 - ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
                        - 2 * theta * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                        + theta * theta
                          * (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))
                       / nullif(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n, 0)) AS DOUBLE)) OR abs(CAST((1.0 - ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
                        - 2 * theta * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                        + theta * theta
                          * (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))
                       / nullif(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n, 0)) AS DOUBLE)) >= 4611686018427.388 THEN (1.0 - ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
                        - 2 * theta * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                        + theta * theta
                          * (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))
                       / nullif(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n, 0)) ELSE floor((1.0 - ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
                        - 2 * theta * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                        + theta * theta
                          * (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))
                       / nullif(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n, 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS var_reduction
    FROM t
"""

ORACLES["diff_in_diff_discount"] = """
    WITH c AS (
        SELECT CASE WHEN CAST(substr(p.p_brand, 7) AS INT) % 2 = 1
                    THEN 1 ELSE 0 END AS treated,
               CASE WHEN l.l_shipdate >= DATE '1998-01-01'
                    THEN 1 ELSE 0 END AS post,
               CAST(round(l.l_discount * 10000) AS BIGINT) AS bp
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), g AS (
        SELECT treated, post, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(bp) AS BIGINT) AS s
        FROM c GROUP BY 1, 2
    ), m AS (
        SELECT max(CASE WHEN treated = 1 AND post = 1
                        THEN CAST(s AS DOUBLE) / n END) AS t1,
               max(CASE WHEN treated = 1 AND post = 0
                        THEN CAST(s AS DOUBLE) / n END) AS t0,
               max(CASE WHEN treated = 0 AND post = 1
                        THEN CAST(s AS DOUBLE) / n END) AS c1,
               max(CASE WHEN treated = 0 AND post = 0
                        THEN CAST(s AS DOUBLE) / n END) AS c0
        FROM g
    )
    SELECT (CASE WHEN isnan(CAST((t0) AS DOUBLE)) OR abs(CAST((t0) AS DOUBLE)) >= 4611686018427.388 THEN (t0) ELSE floor((t0) * 1000000.0 + 0.5) / 1000000.0 END) AS treated_pre_bp, (CASE WHEN isnan(CAST((t1) AS DOUBLE)) OR abs(CAST((t1) AS DOUBLE)) >= 4611686018427.388 THEN (t1) ELSE floor((t1) * 1000000.0 + 0.5) / 1000000.0 END) AS treated_post_bp,
           (CASE WHEN isnan(CAST((c0) AS DOUBLE)) OR abs(CAST((c0) AS DOUBLE)) >= 4611686018427.388 THEN (c0) ELSE floor((c0) * 1000000.0 + 0.5) / 1000000.0 END) AS control_pre_bp, (CASE WHEN isnan(CAST((c1) AS DOUBLE)) OR abs(CAST((c1) AS DOUBLE)) >= 4611686018427.388 THEN (c1) ELSE floor((c1) * 1000000.0 + 0.5) / 1000000.0 END) AS control_post_bp,
           (CASE WHEN isnan(CAST(((t1 - t0) - (c1 - c0)) AS DOUBLE)) OR abs(CAST(((t1 - t0) - (c1 - c0)) AS DOUBLE)) >= 4611686018427.388 THEN ((t1 - t0) - (c1 - c0)) ELSE floor(((t1 - t0) - (c1 - c0)) * 1000000.0 + 0.5) / 1000000.0 END) AS did_bp
    FROM m
"""

ORACLES["sharpe_sortino_daily"] = """
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ), l AS (
        SELECT event_type,
               cents - lag(cents) OVER (PARTITION BY event_type
                                        ORDER BY day) AS dlt
        FROM d
    ), g AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(dlt) AS BIGINT) AS s,
               CAST(sum(dlt * dlt) AS BIGINT) AS q,
               CAST(sum(CASE WHEN dlt < 0 THEN dlt * dlt ELSE 0 END)
                    AS BIGINT) AS qd
        FROM l WHERE dlt IS NOT NULL GROUP BY 1
    )
    SELECT event_type, n AS n_days,
           (CASE WHEN isnan(CAST((CAST(s AS DOUBLE) / n / 100.0) AS DOUBLE)) OR abs(CAST((CAST(s AS DOUBLE) / n / 100.0) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(s AS DOUBLE) / n / 100.0) ELSE floor((CAST(s AS DOUBLE) / n / 100.0) * 1000000.0 + 0.5) / 1000000.0 END) AS mean_pnl,
           (CASE WHEN isnan(CAST(((CAST(s AS DOUBLE) / n)
                 / nullif(sqrt((q - s * (CAST(s AS DOUBLE) / n)) / (n - 1)), 0)) AS DOUBLE)) OR abs(CAST(((CAST(s AS DOUBLE) / n)
                 / nullif(sqrt((q - s * (CAST(s AS DOUBLE) / n)) / (n - 1)), 0)) AS DOUBLE)) >= 4611686018427.388 THEN ((CAST(s AS DOUBLE) / n)
                 / nullif(sqrt((q - s * (CAST(s AS DOUBLE) / n)) / (n - 1)), 0)) ELSE floor(((CAST(s AS DOUBLE) / n)
                 / nullif(sqrt((q - s * (CAST(s AS DOUBLE) / n)) / (n - 1)), 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS sharpe,
           (CASE WHEN isnan(CAST(((CAST(s AS DOUBLE) / n)
                 / nullif(sqrt(CAST(qd AS DOUBLE) / (n - 1)), 0)) AS DOUBLE)) OR abs(CAST(((CAST(s AS DOUBLE) / n)
                 / nullif(sqrt(CAST(qd AS DOUBLE) / (n - 1)), 0)) AS DOUBLE)) >= 4611686018427.388 THEN ((CAST(s AS DOUBLE) / n)
                 / nullif(sqrt(CAST(qd AS DOUBLE) / (n - 1)), 0)) ELSE floor(((CAST(s AS DOUBLE) / n)
                 / nullif(sqrt(CAST(qd AS DOUBLE) / (n - 1)), 0)) * 1000000.0 + 0.5) / 1000000.0 END)
               AS sortino
    FROM g
"""

ORACLES["hurst_exponent_rs"] = """
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ), r AS (
        SELECT cents,
               row_number() OVER (ORDER BY day) - 1 AS rn
        FROM d
    ), sizes AS (SELECT unnest([8, 16, 32, 64]) AS wn),
    blk AS (
        SELECT s.wn, r.rn // s.wn AS b, r.rn % s.wn AS i, r.cents
        FROM r CROSS JOIN sizes s
    ), full_b AS (
        SELECT wn, b FROM blk GROUP BY 1, 2 HAVING count(*) = wn
    ), st AS (
        SELECT k.wn, k.b, k.i, k.cents,
               CAST(sum(k.cents) OVER (PARTITION BY k.wn, k.b ORDER BY k.i
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(sum(k.cents) OVER (PARTITION BY k.wn, k.b) AS BIGINT)
                   AS tot,
               CAST(sum(CAST(k.cents AS HUGEINT) * k.cents)
                        OVER (PARTITION BY k.wn, k.b)
                    AS DOUBLE) AS totq
        FROM blk k JOIN full_b f ON k.wn = f.wn AND k.b = f.b
    ), dev AS (
        SELECT wn, b,
               max(cum - (i + 1) * (CAST(tot AS DOUBLE) / wn))
                   - min(cum - (i + 1) * (CAST(tot AS DOUBLE) / wn)) AS rng,
               sqrt((max(totq) - max(tot) * (CAST(max(tot) AS DOUBLE) / wn))
                    / wn) AS sd
        FROM st GROUP BY 1, 2
    ), per_n AS (
        SELECT wn, CAST(count(*) AS BIGINT) AS n_blocks,
               avg(rng / sd) AS avg_rs
        FROM dev WHERE sd > 0 GROUP BY 1
    ), fit AS (
        SELECT (sum(ln(wn) * ln(avg_rs)) - sum(ln(wn)) * sum(ln(avg_rs)) / count(*))
               / (sum(ln(wn) * ln(wn)) - sum(ln(wn)) * sum(ln(wn)) / count(*))
                   AS h
        FROM per_n
    )
    SELECT CAST(p.wn AS INT) AS window_days, p.n_blocks,
           (CASE WHEN isnan(CAST((p.avg_rs) AS DOUBLE)) OR abs(CAST((p.avg_rs) AS DOUBLE)) >= 4611686018427.388 THEN (p.avg_rs) ELSE floor((p.avg_rs) * 1000000.0 + 0.5) / 1000000.0 END) AS avg_rs, (CASE WHEN isnan(CAST((f.h) AS DOUBLE)) OR abs(CAST((f.h) AS DOUBLE)) >= 4611686018427.388 THEN (f.h) ELSE floor((f.h) * 1000000.0 + 0.5) / 1000000.0 END) AS hurst
    FROM per_n p CROSS JOIN fit f
"""

ORACLES["token_dist_kl_divergence"] = f"""
    WITH tok AS (
        SELECT lang, unnest({_TOKS}) AS t FROM documents
    ), lt AS (
        SELECT lang, t, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    ), ltot AS (
        SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM lt GROUP BY 1
    ), ct AS (
        SELECT t, CAST(sum(c) AS BIGINT) AS c FROM lt GROUP BY 1
    ), ctot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ct)
    SELECT lt.lang, max(ltot.n) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           (CASE WHEN isnan(CAST((sum((CAST(lt.c AS DOUBLE) / ltot.n)
                     * ln((CAST(lt.c AS DOUBLE) / ltot.n)
                          / (CAST(ct.c AS DOUBLE) / ctot.n)))) AS DOUBLE)) OR abs(CAST((sum((CAST(lt.c AS DOUBLE) / ltot.n)
                     * ln((CAST(lt.c AS DOUBLE) / ltot.n)
                          / (CAST(ct.c AS DOUBLE) / ctot.n)))) AS DOUBLE)) >= 4611686018427.388 THEN (sum((CAST(lt.c AS DOUBLE) / ltot.n)
                     * ln((CAST(lt.c AS DOUBLE) / ltot.n)
                          / (CAST(ct.c AS DOUBLE) / ctot.n)))) ELSE floor((sum((CAST(lt.c AS DOUBLE) / ltot.n)
                     * ln((CAST(lt.c AS DOUBLE) / ltot.n)
                          / (CAST(ct.c AS DOUBLE) / ctot.n)))) * 1000000.0 + 0.5) / 1000000.0 END)
               AS kl_to_corpus
    FROM lt JOIN ltot USING (lang)
    JOIN ct USING (t) CROSS JOIN ctot
    GROUP BY 1
"""

ORACLES["minmax_file_skipping"] = """
    WITH f AS (
        SELECT l_suppkey AS file_id, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS min_c,
               CAST(max(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS max_c
        FROM lineitem GROUP BY 1
    ), preds AS (
        SELECT unnest([100000, 1000000, 5000000, 9000000]) AS lo_c
    )
    SELECT CAST(p.lo_c AS BIGINT) AS predicate_min_cents,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN f.max_c < p.lo_c THEN 1 ELSE 0 END)
                AS BIGINT) AS skipped_files,
           CAST(sum(CASE WHEN f.max_c < p.lo_c THEN f.n_rows ELSE 0 END)
                AS BIGINT) AS skipped_rows,
           (CASE WHEN isnan(CAST((CAST(sum(CASE WHEN f.max_c < p.lo_c THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*)) AS DOUBLE)) OR abs(CAST((CAST(sum(CASE WHEN f.max_c < p.lo_c THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(CASE WHEN f.max_c < p.lo_c THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*)) ELSE floor((CAST(sum(CASE WHEN f.max_c < p.lo_c THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*)) * 1000000.0 + 0.5) / 1000000.0 END) AS skip_ratio
    FROM f CROSS JOIN preds p
    GROUP BY 1
"""

# granger_causality_ftest's oracle is built in queries.py at the
# @query site (operators.ml.granger_oracle_sql shares the SQL template
# with the Spark side) — keeping oracles.py free of this import avoids
# a circular-import trap should operators.ml ever need ORACLES
# (ADVICE r7).

ORACLES["isotonic_calibration_pava"] = """
    WITH b AS (
        SELECT CAST(round(l_discount * 100) AS INT) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS r
        FROM lineitem GROUP BY 1
    ), c AS (
        SELECT bin, n, r,
               CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
               CAST(sum(r) OVER (ORDER BY bin) AS BIGINT) AS cr
        FROM b
    ), pairs AS (
        SELECT i.bin AS ib, j.bin AS jb,
               CAST(j.cr - (i.cr - i.r) AS DOUBLE)
                   / (j.cn - (i.cn - i.n)) AS wavg
        FROM c i JOIN c j ON i.bin <= j.bin
    ), m1 AS (
        SELECT p.ib, t.bin AS tb, min(p.wavg) AS mn
        FROM pairs p JOIN c t ON p.ib <= t.bin AND t.bin <= p.jb
        GROUP BY 1, 2
    ), iso AS (
        SELECT tb AS bin, max(mn) AS iso_rate FROM m1 GROUP BY 1
    )
    SELECT c.bin AS discount_pct, c.n AS n_rows,
           (CASE WHEN isnan(CAST((CAST(c.r AS DOUBLE) / c.n) AS DOUBLE)) OR abs(CAST((CAST(c.r AS DOUBLE) / c.n) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(c.r AS DOUBLE) / c.n) ELSE floor((CAST(c.r AS DOUBLE) / c.n) * 1000000.0 + 0.5) / 1000000.0 END) AS raw_rate,
           (CASE WHEN isnan(CAST((i.iso_rate) AS DOUBLE)) OR abs(CAST((i.iso_rate) AS DOUBLE)) >= 4611686018427.388 THEN (i.iso_rate) ELSE floor((i.iso_rate) * 1000000.0 + 0.5) / 1000000.0 END) AS iso_rate
    FROM c JOIN iso i ON c.bin = i.bin
"""

ORACLES["gdpr_delete_cascade"] = """
    WITH del AS (
        SELECT c_custkey FROM customer
        WHERE CAST((instr('0123456789abcdef',
                  substr(md5(CAST(c_custkey AS VARCHAR) || 'gdpr'), 1, 1)) - 1) * 16
                + (instr('0123456789abcdef',
                  substr(md5(CAST(c_custkey AS VARCHAR) || 'gdpr'), 2, 1)) - 1)
                 AS BIGINT) < 3
    ), delo AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM del)
    ), cc AS (
        SELECT CAST(count(*) AS BIGINT) AS total,
               CAST(sum(CASE WHEN c_custkey IN (SELECT c_custkey FROM del)
                             THEN 1 ELSE 0 END) AS BIGINT) AS purged
        FROM customer
    ), oo AS (
        SELECT CAST(count(*) AS BIGINT) AS total,
               CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM del)
                             THEN 1 ELSE 0 END) AS BIGINT) AS purged
        FROM orders
    ), ll AS (
        SELECT CAST(count(*) AS BIGINT) AS total,
               CAST(sum(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM delo)
                             THEN 1 ELSE 0 END) AS BIGINT) AS purged
        FROM lineitem
    )
    SELECT 'customer' AS table_name, purged AS rows_purged,
           total - purged AS rows_retained FROM cc
    UNION ALL
    SELECT 'orders', purged, total - purged FROM oo
    UNION ALL
    SELECT 'lineitem', purged, total - purged FROM ll
"""


# ---------------------------------------------------------------------------
# Round-8 additions: tax-lot HIFO, trading signals (crossover /
# stochastic / OBV / VWAP), ledger trial balance, FX consolidation,
# budget-vs-actual, and asymmetric containment dedup. Every value is
# exact integer/decimal arithmetic except explicitly-rounded display
# ratios (int/int doubles — identical in any engine).
# ---------------------------------------------------------------------------

ORACLES["hifo_realized_pnl"] = """
    WITH li AS (
        SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber, l_returnflag,
               CAST(round(l_quantity) AS BIGINT) AS qty,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS total
        FROM lineitem
    ), b AS (
        SELECT l_partkey, qty, total,
               sum(qty) OVER w AS bend, sum(qty) OVER w - qty AS bstart
        FROM li WHERE l_returnflag = 'N'
        WINDOW w AS (PARTITION BY l_partkey
                     ORDER BY -(CAST(total AS DOUBLE) / qty),
                              l_orderkey, l_linenumber
                     ROWS UNBOUNDED PRECEDING)
    ), s AS (
        SELECT l_partkey, qty, total,
               sum(qty) OVER w AS send, sum(qty) OVER w - qty AS sstart
        FROM li WHERE l_returnflag = 'R'
        WINDOW w AS (PARTITION BY l_partkey
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS UNBOUNDED PRECEDING)
    ), m AS (
        SELECT b.l_partkey,
               least(b.bend, s.send) - greatest(b.bstart, s.sstart) AS mq,
               b.qty AS bq, b.total AS bt, s.qty AS sq, s.total AS st
        FROM b JOIN s ON b.l_partkey = s.l_partkey
                     AND b.bstart < s.send AND s.sstart < b.bend
    )
    SELECT l_partkey,
           CAST(sum(mq) AS BIGINT) AS matched_qty,
           CAST(sum((mq * st) // sq - (mq * bt) // bq) AS BIGINT)
               AS realized_pnl_cents
    FROM m GROUP BY 1
    """

ORACLES["sma_crossover_signals"] = """
    WITH d AS (
        SELECT o_orderpriority AS series, CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1, 2
    ), r AS (
        SELECT series, day,
               CAST(count(*) OVER ws AS BIGINT) AS n_win,
               sum(CAST(cents AS HUGEINT)) OVER wf AS sf,
               sum(CAST(cents AS HUGEINT)) OVER ws AS ss
        FROM d
        WINDOW wf AS (PARTITION BY series ORDER BY day
                      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
               ws AS (PARTITION BY series ORDER BY day
                      ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    ), f AS (
        SELECT series, day,
               (CASE WHEN isnan(CAST((CAST(sf AS DOUBLE) / 10) AS DOUBLE)) OR abs(CAST((CAST(sf AS DOUBLE) / 10) AS DOUBLE)) >= 4.611686018427388e+16 THEN (CAST(sf AS DOUBLE) / 10) ELSE floor((CAST(sf AS DOUBLE) / 10) * 100.0 + 0.5) / 100.0 END) AS sma_fast,
               (CASE WHEN isnan(CAST((CAST(ss AS DOUBLE) / 30) AS DOUBLE)) OR abs(CAST((CAST(ss AS DOUBLE) / 30) AS DOUBLE)) >= 4.611686018427388e+16 THEN (CAST(ss AS DOUBLE) / 30) ELSE floor((CAST(ss AS DOUBLE) / 30) * 100.0 + 0.5) / 100.0 END) AS sma_slow,
               CAST(sf * 30 > ss * 10 AS INT) AS fast_above
        FROM r WHERE n_win = 30
    )
    SELECT series, day, sma_fast, sma_slow, fast_above,
           CAST(coalesce(fast_above - lag(fast_above)
                    OVER (PARTITION BY series ORDER BY day), 0) AS INT)
               AS crossover
    FROM f
    """

ORACLES["stochastic_oscillator_k"] = """
    WITH d AS (
        SELECT o_orderpriority AS series, CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1, 2
    ), r AS (
        SELECT series, day, cents,
               CAST(count(*) OVER w AS BIGINT) AS n_win,
               min(cents) OVER w AS mn, max(cents) OVER w AS mx
        FROM d
        WINDOW w AS (PARTITION BY series ORDER BY day
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ), k AS (
        SELECT series, day, cents,
               CAST(((cents - mn) * 1000000) // nullif(mx - mn, 0) AS BIGINT)
                   AS k_ppm
        FROM r WHERE n_win = 14
    )
    SELECT series, day, cents, k_ppm,
           coalesce(CAST(k_ppm >= 800000 AS INT), 0) AS overbought,
           coalesce(CAST(k_ppm <= 200000 AS INT), 0) AS oversold
    FROM k
    """

ORACLES["obv_daily"] = """
    WITH d AS (
        SELECT o_orderpriority AS series, CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents,
               CAST(count(*) AS BIGINT) AS vol
        FROM orders GROUP BY 1, 2
    ), f AS (
        SELECT series, day, vol,
               cents - lag(cents) OVER (PARTITION BY series ORDER BY day)
                   AS diff
        FROM d
    ), s AS (
        SELECT series, day,
               CAST(CASE WHEN diff > 0 THEN vol
                         WHEN diff < 0 THEN -vol
                         ELSE 0 END AS BIGINT) AS signed_volume
        FROM f
    )
    SELECT series, day, signed_volume,
           CAST(sum(signed_volume) OVER (PARTITION BY series ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
    FROM s
    """

ORACLES["vwap_deviation_bands"] = """
    WITH l AS (
        SELECT p.p_brand, CAST(l.l_shipdate AS DATE) AS day,
               CAST(round(l.l_quantity) AS BIGINT) AS lqty,
               CAST(round(l.l_extendedprice * 100) AS BIGINT) AS lext
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), x AS (
        SELECT p_brand, day, lqty, lext,
               sum(lqty) OVER (PARTITION BY p_brand, day) AS qd,
               sum(lext) OVER (PARTITION BY p_brand, day) AS ed
        FROM l
    )
    SELECT p_brand, day,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(lext) // sum(lqty) AS BIGINT) AS vwap_unit_cents,
           CAST(sum(CASE WHEN CAST(lext AS HUGEINT) * qd
                              > CAST(ed AS HUGEINT) * lqty
                         THEN 1 ELSE 0 END)
                AS BIGINT) AS above_vwap_lines,
           CAST(sum(CASE WHEN CAST(lext AS HUGEINT) * qd
                              < CAST(ed AS HUGEINT) * lqty
                         THEN 1 ELSE 0 END)
                AS BIGINT) AS below_vwap_lines
    FROM x GROUP BY 1, 2
    """

ORACLES["trial_balance_monthly"] = """
    WITH o AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), r AS (
        SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
               CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                   AS cents
        FROM lineitem WHERE l_returnflag = 'R'
    ), j AS (
        SELECT month, 'accounts_receivable' AS account,
               cents AS debit, CAST(0 AS BIGINT) AS credit FROM o
        UNION ALL
        SELECT month, 'revenue', CAST(0 AS BIGINT), cents FROM o
        UNION ALL
        SELECT month, 'sales_returns', cents, CAST(0 AS BIGINT) FROM r
        UNION ALL
        SELECT month, 'accounts_receivable', CAST(0 AS BIGINT), cents FROM r
    )
    SELECT month, account,
           CAST(count(*) AS BIGINT) AS n_entries,
           CAST(sum(debit) AS BIGINT) AS debit_cents,
           CAST(sum(credit) AS BIGINT) AS credit_cents
    FROM j GROUP BY 1, 2
    """

ORACLES["fx_normalized_revenue"] = """
    WITH x AS (
        SELECT r.r_name,
               CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
               CAST((CAST(round(o.o_totalprice * 100) AS BIGINT) * 1000000)
                    // (500000 + ((n.n_nationkey * 37) % 1000) * 1000)
                    AS BIGINT) AS usd
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
    )
    SELECT r_name, month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(usd) AS BIGINT) AS usd_cents
    FROM x GROUP BY 1, 2
    """

ORACLES["budget_variance_ytd"] = """
    WITH m AS (
        SELECT o_orderpriority,
               CAST(year(o_orderdate) AS INT) AS y,
               CAST(month(o_orderdate) AS INT) AS mo,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS act
        FROM orders GROUP BY 1, 2, 3
    ), j AS (
        SELECT a.o_orderpriority, a.y, a.mo, a.act, b.act AS bud
        FROM m a JOIN m b
          ON a.o_orderpriority = b.o_orderpriority
         AND a.y * 12 + a.mo = b.y * 12 + b.mo + 12
    )
    SELECT o_orderpriority, y AS year, mo AS month,
           act AS act_cents, bud AS budget_cents,
           CAST(act - bud AS BIGINT) AS variance_cents,
           CAST(sum(act - bud) OVER (PARTITION BY o_orderpriority, y
                ORDER BY mo ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS ytd_variance_cents,
           (CASE WHEN isnan(CAST((CAST(act - bud AS DOUBLE) / bud) AS DOUBLE)) OR abs(CAST((CAST(act - bud AS DOUBLE) / bud) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(act - bud AS DOUBLE) / bud) ELSE floor((CAST(act - bud AS DOUBLE) / bud) * 1000000.0 + 0.5) / 1000000.0 END) AS variance_pct
    FROM j
    """

ORACLES["containment_dedup_pairs"] = f"""
    WITH t AS (
        SELECT doc_id AS id, list_distinct({_TOKS}) AS toks,
               len(list_distinct({_TOKS})) AS n
        FROM documents
        WHERE len(list_distinct({_TOKS})) > 0
    ), tt AS (
        SELECT id, n, unnest(toks) AS tok FROM t
    ), dfreq AS (
        SELECT tok, count(*) AS n_df FROM tt GROUP BY tok
    ), pref AS (
        SELECT id, n, tok
        FROM (
            SELECT tt.id, tt.n, tt.tok,
                   row_number() OVER (PARTITION BY tt.id
                                      ORDER BY d.n_df, tt.tok) AS rnk
            FROM tt JOIN dfreq d USING (tok)
        )
        WHERE rnk <= n - ceil(n * 0.9) + 1
    ), cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM pref a JOIN tt b
          ON a.tok = b.tok AND a.id <> b.id
         AND b.n >= ceil(a.n * 0.9)
    ), v AS (
        -- threshold on the TRUE int/int ratio (rounded for display)
        SELECT c.id_a, c.id_b,
               len(list_intersect(ta.toks, tb.toks)) / CAST(ta.n AS DOUBLE)
                   AS c_true
        FROM cand c
        JOIN t ta ON ta.id = c.id_a
        JOIN t tb ON tb.id = c.id_b
    )
    SELECT id_a, id_b, (CASE WHEN isnan(CAST((c_true) AS DOUBLE)) OR abs(CAST((c_true) AS DOUBLE)) >= 461168601842738.8 THEN (c_true) ELSE floor((c_true) * 10000.0 + 0.5) / 10000.0 END) AS containment
    FROM v WHERE c_true >= 0.9
    """

ORACLES["mann_whitney_event_halves"] = """
    WITH b AS (
        SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
        FROM events WHERE value IS NOT NULL
    ), r AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CASE WHEN epoch_us(ts) <= b.mid THEN 1 ELSE 2 END AS grp
        FROM events CROSS JOIN b WHERE value IS NOT NULL
    ), c AS (
        SELECT event_type, cents,
               CAST(count_if(grp = 1) AS BIGINT) AS c1,
               CAST(count_if(grp = 2) AS BIGINT) AS c2
        FROM r GROUP BY 1, 2
    ), d AS (
        SELECT event_type, c1, c2, c1 + c2 AS cnt,
               sum(c1 + c2) OVER w - (c1 + c2) AS off
        FROM c
        WINDOW w AS (PARTITION BY event_type ORDER BY cents
                     ROWS UNBOUNDED PRECEDING)
    ), g AS (
        SELECT event_type,
               CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c2) AS BIGINT) AS n2,
               CAST(sum(c1 * (2 * off + cnt + 1)) AS BIGINT) AS r2,
               sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS s3
        FROM d GROUP BY 1
        HAVING sum(c1) > 0 AND sum(c2) > 0
    )
    SELECT event_type, n1, n2,
           CAST(r2 - n1 * (n1 + 1) AS BIGINT) AS u2,
           (CASE WHEN isnan(CAST(((CAST(r2 - n1 * (n1 + 1) AS DOUBLE)
                  - CAST(n1 AS DOUBLE) * n2)
                 / nullif(2.0 * sqrt(CAST(n1 AS DOUBLE) * n2
                       * CAST(CAST(n1 + n2 + 1 AS HUGEINT)
                              * (n1 + n2) * (n1 + n2 - 1) - s3 AS DOUBLE)
                       / (12.0 * (n1 + n2) * (n1 + n2 - 1))), 0)) AS DOUBLE)) OR abs(CAST(((CAST(r2 - n1 * (n1 + 1) AS DOUBLE)
                  - CAST(n1 AS DOUBLE) * n2)
                 / nullif(2.0 * sqrt(CAST(n1 AS DOUBLE) * n2
                       * CAST(CAST(n1 + n2 + 1 AS HUGEINT)
                              * (n1 + n2) * (n1 + n2 - 1) - s3 AS DOUBLE)
                       / (12.0 * (n1 + n2) * (n1 + n2 - 1))), 0)) AS DOUBLE)) >= 4611686018427.388 THEN ((CAST(r2 - n1 * (n1 + 1) AS DOUBLE)
                  - CAST(n1 AS DOUBLE) * n2)
                 / nullif(2.0 * sqrt(CAST(n1 AS DOUBLE) * n2
                       * CAST(CAST(n1 + n2 + 1 AS HUGEINT)
                              * (n1 + n2) * (n1 + n2 - 1) - s3 AS DOUBLE)
                       / (12.0 * (n1 + n2) * (n1 + n2 - 1))), 0)) ELSE floor(((CAST(r2 - n1 * (n1 + 1) AS DOUBLE)
                  - CAST(n1 AS DOUBLE) * n2)
                 / nullif(2.0 * sqrt(CAST(n1 AS DOUBLE) * n2
                       * CAST(CAST(n1 + n2 + 1 AS HUGEINT)
                              * (n1 + n2) * (n1 + n2 - 1) - s3 AS DOUBLE)
                       / (12.0 * (n1 + n2) * (n1 + n2 - 1))), 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS z
    FROM g
    """

ORACLES["emd_value_drift"] = """
    WITH b AS (
        SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
        FROM events WHERE value IS NOT NULL
    ), r AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CASE WHEN epoch_us(ts) <= b.mid THEN 1 ELSE 2 END AS grp
        FROM events CROSS JOIN b WHERE value IS NOT NULL
    ), c AS (
        SELECT event_type, cents,
               CAST(count_if(grp = 1) AS BIGINT) AS c1,
               CAST(count_if(grp = 2) AS BIGINT) AS c2
        FROM r GROUP BY 1, 2
    ), d AS (
        SELECT event_type,
               sum(c1) OVER w AS a1, sum(c2) OVER w AS a2,
               sum(c1) OVER t AS n1, sum(c2) OVER t AS n2,
               lead(cents) OVER o - cents AS gap
        FROM c
        WINDOW w AS (PARTITION BY event_type ORDER BY cents
                     ROWS UNBOUNDED PRECEDING),
               t AS (PARTITION BY event_type),
               o AS (PARTITION BY event_type ORDER BY cents)
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           (CASE WHEN isnan(CAST((CAST(sum(abs(CAST(a1 AS HUGEINT) * n2
                              - CAST(a2 AS HUGEINT) * n1) * gap) AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * n2) / 100.0) AS DOUBLE)) OR abs(CAST((CAST(sum(abs(CAST(a1 AS HUGEINT) * n2
                              - CAST(a2 AS HUGEINT) * n1) * gap) AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * n2) / 100.0) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(abs(CAST(a1 AS HUGEINT) * n2
                              - CAST(a2 AS HUGEINT) * n1) * gap) AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * n2) / 100.0) ELSE floor((CAST(sum(abs(CAST(a1 AS HUGEINT) * n2
                              - CAST(a2 AS HUGEINT) * n1) * gap) AS DOUBLE)
                 / (CAST(n1 AS DOUBLE) * n2) / 100.0) * 1000000.0 + 0.5) / 1000000.0 END) AS emd
    FROM d
    WHERE n1 > 0 AND n2 > 0 AND gap IS NOT NULL
    GROUP BY event_type, n1, n2
    """

ORACLES["mv_incremental_refresh"] = """
    WITH o AS (
        SELECT o_orderpriority,
               CAST(o_orderdate AS DATE) AS day,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               CASE WHEN CAST((instr('0123456789abcdef',
                        substr(md5(CAST(o_orderkey AS VARCHAR) || 'mv'), 1, 1))
                        - 1) * 16
                      + (instr('0123456789abcdef',
                        substr(md5(CAST(o_orderkey AS VARCHAR) || 'mv'), 2, 1))
                        - 1) AS BIGINT) < 5
                    THEN 1 ELSE 0 END AS is_delta
        FROM orders
    ), keys AS (
        SELECT DISTINCT o_orderpriority, day FROM o WHERE is_delta = 1
    )
    SELECT o.o_orderpriority, o.day,
           CAST(sum(o.is_delta) AS BIGINT) AS n_delta_rows,
           CAST(sum(CASE WHEN o.is_delta = 0 THEN o.cents ELSE 0 END)
                AS BIGINT) AS old_cents,
           CAST(sum(CASE WHEN o.is_delta = 1 THEN o.cents ELSE 0 END)
                AS BIGINT) AS delta_cents,
           CAST(sum(o.cents) AS BIGINT) AS new_cents
    FROM o JOIN keys k
      ON o.o_orderpriority = k.o_orderpriority AND o.day = k.day
    GROUP BY 1, 2
    """

ORACLES["conformal_interval_coverage"] = """
    WITH d AS (
        SELECT o_orderpriority AS series, CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1, 2
    ), r0 AS (
        SELECT series, day,
               cents - lag(cents, 7) OVER (PARTITION BY series ORDER BY day)
                   AS r
        FROM d
    ), r AS (
        SELECT series, day, r,
               row_number() OVER (PARTITION BY series ORDER BY day) AS rn,
               count(*) OVER (PARTITION BY series) AS n_tot
        FROM r0 WHERE r IS NOT NULL
    ), s AS (
        SELECT series, day, r, rn, n_tot // 2 AS m,
               CASE WHEN rn <= n_tot // 2 THEN 1 ELSE 0 END AS is_cal
        FROM r
    ), cal AS (
        SELECT series, abs(r) AS ar, m,
               row_number() OVER (PARTITION BY series ORDER BY abs(r), day)
                   AS arn
        FROM s WHERE is_cal = 1
    ), q AS (
        SELECT series, CAST(ar AS BIGINT) AS q_hat_cents
        FROM cal
        WHERE arn = least(CAST(ceil(0.9 * (m + 1)) AS BIGINT), m)
    )
    SELECT s.series,
           CAST(count(*) AS BIGINT) AS n_eval,
           q.q_hat_cents,
           (CASE WHEN isnan(CAST((CAST(sum(CASE WHEN abs(s.r) <= q.q_hat_cents
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*)) AS DOUBLE)) OR abs(CAST((CAST(sum(CASE WHEN abs(s.r) <= q.q_hat_cents
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(CASE WHEN abs(s.r) <= q.q_hat_cents
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*)) ELSE floor((CAST(sum(CASE WHEN abs(s.r) <= q.q_hat_cents
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*)) * 1000000.0 + 0.5) / 1000000.0 END) AS coverage,
           CAST(0.9 AS DOUBLE) AS target
    FROM s JOIN q ON s.series = q.series
    WHERE s.is_cal = 0
    GROUP BY 1, 3
    """

ORACLES["return_rate_parity_segments"] = """
    WITH per AS (
        SELECT n.n_name,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returned
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1
    ), rated AS (
        SELECT n_name, n_lines, n_returned,
               CAST((n_returned * 1000000) // n_lines AS BIGINT) AS rate_ppm
        FROM per
    )
    SELECT n_name, n_lines, n_returned, rate_ppm,
           CAST((rate_ppm * 1000000)
                // (SELECT max(rate_ppm) FROM rated) AS BIGINT)
               AS di_vs_max_ppm
    FROM rated
    """

ORACLES["matryoshka_truncation_recall"] = """
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9)
    ), c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    ), full_k AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY
                       (CASE WHEN isnan(CAST((list_dot_product(qv, cv)
                             / nullif(sqrt(list_dot_product(qv, qv))
                                      * sqrt(list_dot_product(cv, cv)), 0)) AS DOUBLE)) OR abs(CAST((list_dot_product(qv, cv)
                             / nullif(sqrt(list_dot_product(qv, qv))
                                      * sqrt(list_dot_product(cv, cv)), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (list_dot_product(qv, cv)
                             / nullif(sqrt(list_dot_product(qv, qv))
                                      * sqrt(list_dot_product(cv, cv)), 0)) ELSE floor((list_dot_product(qv, cv)
                             / nullif(sqrt(list_dot_product(qv, qv))
                                      * sqrt(list_dot_product(cv, cv)), 0)) * 1000000.0 + 0.5) / 1000000.0 END)
                       DESC, neighbor_id ASC) AS rank
            FROM c, q WHERE query_id <> neighbor_id
        ) WHERE rank <= 10
    ), tr_k AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY
                       (CASE WHEN isnan(CAST((list_dot_product(qv[1:16], cv[1:16])
                             / nullif(sqrt(list_dot_product(qv[1:16], qv[1:16]))
                                      * sqrt(list_dot_product(cv[1:16], cv[1:16])), 0)) AS DOUBLE)) OR abs(CAST((list_dot_product(qv[1:16], cv[1:16])
                             / nullif(sqrt(list_dot_product(qv[1:16], qv[1:16]))
                                      * sqrt(list_dot_product(cv[1:16], cv[1:16])), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (list_dot_product(qv[1:16], cv[1:16])
                             / nullif(sqrt(list_dot_product(qv[1:16], qv[1:16]))
                                      * sqrt(list_dot_product(cv[1:16], cv[1:16])), 0)) ELSE floor((list_dot_product(qv[1:16], cv[1:16])
                             / nullif(sqrt(list_dot_product(qv[1:16], qv[1:16]))
                                      * sqrt(list_dot_product(cv[1:16], cv[1:16])), 0)) * 1000000.0 + 0.5) / 1000000.0 END)
                       DESC, neighbor_id ASC) AS rank
            FROM c, q WHERE query_id <> neighbor_id
        ) WHERE rank <= 10
    )
    SELECT f.query_id,
           CAST(count(t.neighbor_id) AS BIGINT) AS n_overlap,
           (CASE WHEN isnan(CAST((count(t.neighbor_id) / 10.0) AS DOUBLE)) OR abs(CAST((count(t.neighbor_id) / 10.0) AS DOUBLE)) >= 4611686018427.388 THEN (count(t.neighbor_id) / 10.0) ELSE floor((count(t.neighbor_id) / 10.0) * 1000000.0 + 0.5) / 1000000.0 END) AS recall_at_10
    FROM full_k f LEFT JOIN tr_k t
      ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
    GROUP BY 1
    """

ORACLES["scd2_point_in_time_join"] = """
    WITH o AS (
        SELECT user_id, event_type, ts,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev,
               lag(ts)         OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        FROM events WHERE event_type <> 'purchase'
    ), starts AS (
        SELECT user_id, event_type, ts FROM o
        WHERE prev_ts IS NULL OR NOT (event_type IS NOT DISTINCT FROM prev)
    ), hist AS (
        SELECT user_id AS h_uid, event_type AS state,
               epoch_us(ts) AS vf,
               epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS vt
        FROM starts
    ), pur AS (
        SELECT user_id, epoch_us(ts) AS t,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    )
    SELECT coalesce(h.state, 'none') AS state,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(p.cents) AS BIGINT) AS purchase_cents
    FROM pur p LEFT JOIN hist h
      ON p.user_id = h.h_uid AND h.vf <= p.t
     AND (h.vt IS NULL OR p.t < h.vt)
    GROUP BY 1
    """

ORACLES["safety_stock_quantile"] = """
    WITH daily AS (
        SELECT p.p_brand, CAST(l.l_shipdate AS DATE) AS day,
               CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS d_qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ), r AS (
        SELECT p_brand, day, d_qty,
               row_number() OVER (PARTITION BY p_brand ORDER BY d_qty, day)
                   AS rn,
               count(*) OVER (PARTITION BY p_brand) AS n_days,
               sum(d_qty) OVER (PARTITION BY p_brand) AS tot
        FROM daily
    )
    SELECT p_brand,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(tot AS BIGINT) AS total_qty,
           d_qty AS q95_daily_qty,
           CAST(d_qty - tot // n_days AS BIGINT) AS safety_stock_qty
    FROM r
    WHERE rn = CAST(ceil(0.95 * n_days) AS BIGINT)
    """

ORACLES["account_running_balances"] = """
    WITH o AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), r AS (
        SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
               CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                   AS cents
        FROM lineitem WHERE l_returnflag = 'R'
    ), j AS (
        SELECT month, 'accounts_receivable' AS account,
               cents AS debit, CAST(0 AS BIGINT) AS credit FROM o
        UNION ALL
        SELECT month, 'revenue', CAST(0 AS BIGINT), cents FROM o
        UNION ALL
        SELECT month, 'sales_returns', cents, CAST(0 AS BIGINT) FROM r
        UNION ALL
        SELECT month, 'accounts_receivable', CAST(0 AS BIGINT), cents FROM r
    ), m AS (
        SELECT month, account,
               CAST(sum(debit) AS BIGINT) AS debit_cents,
               CAST(sum(credit) AS BIGINT) AS credit_cents
        FROM j GROUP BY 1, 2
    )
    SELECT account, month, debit_cents, credit_cents,
           CAST(sum(debit_cents - credit_cents) OVER (
                PARTITION BY account ORDER BY month
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS balance_cents
    FROM m
    """

ORACLES["rrf_hybrid_search"] = f"""
    WITH t AS (
        SELECT doc_id, list_distinct({_TOKS}) AS toks
        FROM documents
    ), q AS (
        SELECT doc_id AS query_id, toks AS q_toks FROM t
        WHERE doc_id IN (0, 1, 2, 3, 4)
    ), lex AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT q.query_id, t.doc_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                       (CASE WHEN isnan(CAST((len(list_intersect(q.q_toks, t.toks))
                             / CAST(len(q.q_toks) + len(t.toks)
                                    - len(list_intersect(q.q_toks, t.toks))
                                    AS DOUBLE)) AS DOUBLE)) OR abs(CAST((len(list_intersect(q.q_toks, t.toks))
                             / CAST(len(q.q_toks) + len(t.toks)
                                    - len(list_intersect(q.q_toks, t.toks))
                                    AS DOUBLE)) AS DOUBLE)) >= 4611686018427.388 THEN (len(list_intersect(q.q_toks, t.toks))
                             / CAST(len(q.q_toks) + len(t.toks)
                                    - len(list_intersect(q.q_toks, t.toks))
                                    AS DOUBLE)) ELSE floor((len(list_intersect(q.q_toks, t.toks))
                             / CAST(len(q.q_toks) + len(t.toks)
                                    - len(list_intersect(q.q_toks, t.toks))
                                    AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 END) DESC,
                       t.doc_id ASC) AS rank
            FROM t JOIN q ON t.doc_id <> q.query_id
            WHERE (CASE WHEN isnan(CAST((len(list_intersect(q.q_toks, t.toks))
                        / CAST(len(q.q_toks) + len(t.toks)
                               - len(list_intersect(q.q_toks, t.toks))
                               AS DOUBLE)) AS DOUBLE)) OR abs(CAST((len(list_intersect(q.q_toks, t.toks))
                        / CAST(len(q.q_toks) + len(t.toks)
                               - len(list_intersect(q.q_toks, t.toks))
                               AS DOUBLE)) AS DOUBLE)) >= 4611686018427.388 THEN (len(list_intersect(q.q_toks, t.toks))
                        / CAST(len(q.q_toks) + len(t.toks)
                               - len(list_intersect(q.q_toks, t.toks))
                               AS DOUBLE)) ELSE floor((len(list_intersect(q.q_toks, t.toks))
                        / CAST(len(q.q_toks) + len(t.toks)
                               - len(list_intersect(q.q_toks, t.toks))
                               AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 END) > 0
        ) WHERE rank <= 20
    ), qe AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
    ), ce AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    ), sem AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY
                       (CASE WHEN isnan(CAST((list_dot_product(qv, cv)
                             / nullif(sqrt(list_dot_product(qv, qv))
                                      * sqrt(list_dot_product(cv, cv)), 0)) AS DOUBLE)) OR abs(CAST((list_dot_product(qv, cv)
                             / nullif(sqrt(list_dot_product(qv, qv))
                                      * sqrt(list_dot_product(cv, cv)), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (list_dot_product(qv, cv)
                             / nullif(sqrt(list_dot_product(qv, qv))
                                      * sqrt(list_dot_product(cv, cv)), 0)) ELSE floor((list_dot_product(qv, cv)
                             / nullif(sqrt(list_dot_product(qv, qv))
                                      * sqrt(list_dot_product(cv, cv)), 0)) * 1000000.0 + 0.5) / 1000000.0 END)
                       DESC, neighbor_id ASC) AS rank
            FROM ce, qe WHERE query_id <> neighbor_id
        ) WHERE rank <= 20
    ), fused AS (
        SELECT coalesce(l.query_id, s.query_id) AS query_id,
               coalesce(l.neighbor_id, s.neighbor_id) AS neighbor_id,
               (CASE WHEN isnan(CAST((coalesce(1.0 / (60.0 + l.rank), 0.0)
                     + coalesce(1.0 / (60.0 + s.rank), 0.0)) AS DOUBLE)) OR abs(CAST((coalesce(1.0 / (60.0 + l.rank), 0.0)
                     + coalesce(1.0 / (60.0 + s.rank), 0.0)) AS DOUBLE)) >= 4611686018427.388 THEN (coalesce(1.0 / (60.0 + l.rank), 0.0)
                     + coalesce(1.0 / (60.0 + s.rank), 0.0)) ELSE floor((coalesce(1.0 / (60.0 + l.rank), 0.0)
                     + coalesce(1.0 / (60.0 + s.rank), 0.0)) * 1000000.0 + 0.5) / 1000000.0 END) AS rrf_score
        FROM lex l FULL OUTER JOIN sem s
          ON l.query_id = s.query_id AND l.neighbor_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, rrf_score, rank FROM (
        SELECT query_id, neighbor_id, rrf_score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rrf_score DESC,
                                           neighbor_id ASC) AS rank
        FROM fused
    ) WHERE rank <= 10
    """

ORACLES["next_event_prediction_accuracy"] = """
    WITH b AS (
        SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid
        FROM events
    ), tr0 AS (
        SELECT event_type,
               lead(event_type) OVER w AS next_type,
               lead(ts) OVER w AS next_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), tr AS (
        SELECT event_type, next_type,
               epoch_us(next_ts) <= (SELECT mid FROM b) AS is_train
        FROM tr0 WHERE next_type IS NOT NULL
    ), counts AS (
        SELECT event_type, next_type, count(*) AS c
        FROM tr WHERE is_train GROUP BY 1, 2
    ), pred AS (
        SELECT event_type, next_type AS predicted FROM (
            SELECT event_type, next_type,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY c DESC, next_type ASC) AS rn
            FROM counts
        ) WHERE rn = 1
    )
    SELECT t.event_type,
           min(p.predicted) AS predicted,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(sum(CASE WHEN t.next_type = p.predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           (CASE WHEN isnan(CAST((CAST(sum(CASE WHEN t.next_type = p.predicted
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*)) AS DOUBLE)) OR abs(CAST((CAST(sum(CASE WHEN t.next_type = p.predicted
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*)) AS DOUBLE)) >= 4611686018427.388 THEN (CAST(sum(CASE WHEN t.next_type = p.predicted
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*)) ELSE floor((CAST(sum(CASE WHEN t.next_type = p.predicted
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*)) * 1000000.0 + 0.5) / 1000000.0 END) AS accuracy
    FROM tr t LEFT JOIN pred p ON t.event_type = p.event_type
    WHERE NOT t.is_train
    GROUP BY 1
    """

ORACLES["script_mix_stats"] = """
    WITH d AS (
        SELECT lang,
               CAST(length(text) AS BIGINT) AS n,
               CAST(length(text)
                    - length(regexp_replace(text, '[a-zA-Z]', '', 'g'))
                    AS BIGINT) AS latin,
               CAST(length(text)
                    - length(regexp_replace(text, '[0-9]', '', 'g'))
                    AS BIGINT) AS digit,
               CAST(length(text)
                    - length(regexp_replace(text, '[^\\x00-\\x7f]', '', 'g'))
                    AS BIGINT) AS nonascii
        FROM documents WHERE length(text) > 0
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(latin) * 1000000 // sum(n) AS BIGINT) AS latin_ppm,
           CAST(sum(digit) * 1000000 // sum(n) AS BIGINT) AS digit_ppm,
           CAST(sum(nonascii) * 1000000 // sum(n) AS BIGINT) AS nonascii_ppm,
           CAST(sum(CASE WHEN latin > 0 AND nonascii * 10 > n
                         THEN 1 ELSE 0 END) AS BIGINT) AS mixed_script_docs
    FROM d GROUP BY 1
    """

ORACLES["l_diversity_audit"] = """
    WITH c AS (
        SELECT c_nationkey, c_mktsegment,
               CASE WHEN c_acctbal < 0 THEN 'negative'
                    WHEN c_acctbal < 5000 THEN 'low'
                    ELSE 'high' END AS bal_class
        FROM customer
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT bal_class) AS BIGINT) AS l_distinct,
           CAST(count(DISTINCT bal_class) < 3 AS INT) AS l_violation
    FROM c GROUP BY 1, 2
    """


# --- round 9 wave 22 -------------------------------------------------------

from finance_reporting_etl_spark.functions.scalars import (  # noqa: E402
    det_round_sql as _dr,
)

ORACLES["ar_aging_buckets"] = """
    WITH ar AS (
        SELECT c.c_mktsegment AS segment,
               date_diff('day', CAST(o.o_orderdate AS DATE), DATE '1998-08-01')
                   AS age_days,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderstatus = 'O'
          AND CAST(o.o_orderdate AS DATE) <= DATE '1998-08-01'
    )
    SELECT segment,
           CASE WHEN age_days <= 30 THEN '0-30'
                WHEN age_days <= 60 THEN '31-60'
                WHEN age_days <= 90 THEN '61-90'
                ELSE '90+' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS ar_cents
    FROM ar GROUP BY 1, 2
    """

ORACLES["interest_accrual_day_count"] = """
    WITH l AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS p
        FROM orders
        WHERE o_orderpriority = '2-HIGH'
          AND year(o_orderdate) = 1995 AND month(o_orderdate) = 6
    ),
    g(period, days_act) AS (
        VALUES ('1995-07', 31), ('1995-08', 31), ('1995-09', 30)
    )
    SELECT l.o_orderkey, g.period, CAST(g.days_act AS INT) AS days_act,
           CAST((l.p * 80000 * g.days_act) // 360000000 AS BIGINT)
               AS accrual_act360_cents,
           CAST((l.p * 80000 * 30) // 360000000 AS BIGINT)
               AS accrual_30360_cents,
           CAST((l.p * 80000 * g.days_act) // 360000000
                - (l.p * 80000 * 30) // 360000000 AS BIGINT)
               AS basis_diff_cents
    FROM l CROSS JOIN g
    """


_ENTROPY_H = """(ln(CAST(max(n) AS DOUBLE))
                 - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / max(n))"""
ORACLES["event_type_entropy_daily"] = f"""
    WITH c AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    w AS (
        SELECT *, CAST(sum(c) OVER (PARTITION BY day) AS BIGINT) AS n FROM c
    )
    SELECT day,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           {_dr(_ENTROPY_H, 6)} AS entropy,
           {_dr(f"{_ENTROPY_H} / nullif(ln(CAST(count(*) AS DOUBLE)), 0.0)", 6)}
               AS entropy_norm
    FROM w GROUP BY day
    """

ORACLES["order_fulfillment_quantiles"] = """
    WITH lag AS (
        SELECT o.o_orderkey,
               CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
               date_diff('day', CAST(o.o_orderdate AS DATE),
                         min(CAST(l.l_shipdate AS DATE))) AS lag_days
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate
    ),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY month
                                     ORDER BY lag_days, o_orderkey) AS rn,
               count(*) OVER (PARTITION BY month) AS n
        FROM lag
    )
    SELECT month,
           CAST(max(n) AS BIGINT) AS n_orders,
           CAST(max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                         THEN lag_days END) AS BIGINT) AS p50_lag_days,
           CAST(max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                         THEN lag_days END) AS BIGINT) AS p90_lag_days
    FROM r GROUP BY month
    """

ORACLES["dup_cluster_size_histogram"] = """
    WITH fp AS (
        SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
        FROM documents
    ),
    cl AS (SELECT f, CAST(count(*) AS BIGINT) AS size FROM fp GROUP BY f),
    tot AS (SELECT CAST(sum(size) AS BIGINT) AS n_total FROM cl)
    SELECT cl.size AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(count(*) * cl.size AS BIGINT) AS n_docs,
           CAST((count(*) * cl.size * 1000000) // max(tot.n_total) AS BIGINT)
               AS doc_share_ppm
    FROM cl CROSS JOIN tot
    GROUP BY cl.size
    """

_MHQA_BANDS = "\n        UNION ALL\n".join(
    "        SELECT id, "
    + ", ".join(f"m{i}" for i in range(32))
    + ", sh, "
    + f"{b} AS band_idx, "
    + " || ':' || ".join(f"CAST(m{b * 4 + r} AS VARCHAR)" for r in range(4))
    + " AS band_key FROM s"
    for b in range(8)
)
_MHQA_MATCHES = " + ".join(
    f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(32)
)
ORACLES["minhash_estimate_error"] = f"""
    WITH s AS (SELECT * FROM '{_AUX_DIR}/minhash_sig_qa/*.parquet'),
    br AS (
{_MHQA_BANDS}
    ),
    c AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM br a JOIN br b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.id < b.id
    ),
    x AS (
        SELECT c.id_a, c.id_b,
               CAST({_MHQA_MATCHES} AS INT) AS n_matches,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS INT) AS n_inter,
               CAST(len(sa.sh) + len(sb.sh)
                    - len(list_intersect(sa.sh, sb.sh)) AS INT) AS n_union
        FROM c JOIN s sa ON c.id_a = sa.id JOIN s sb ON c.id_b = sb.id
    )
    SELECT id_a, id_b, n_matches, n_inter, n_union,
           CAST(n_matches AS DOUBLE) / 32.0 AS est_jaccard,
           CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE) AS exact_jaccard,
           abs(CAST(n_matches AS DOUBLE) / 32.0
               - CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE)) AS abs_err
    FROM x
    """

ORACLES["ngram_novelty_scores"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    dg AS (
        SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(toks)-3),
                                         i -> array_to_string(toks[i:i+3], ' ')))
                       AS gram
            FROM t WHERE len(toks) >= 4
        )
    ),
    first AS (SELECT gram, min(doc_id) AS first_owner FROM dg GROUP BY gram)
    SELECT dg.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_owner = dg.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST((sum(CASE WHEN f.first_owner = dg.doc_id THEN 1 ELSE 0 END)
                 * 1000000)
                // count(*) AS BIGINT) AS novelty_ppm
    FROM dg JOIN first f USING (gram)
    GROUP BY dg.doc_id
    """

ORACLES["fx_gain_loss_realized"] = """
    WITH o AS (
        SELECT o.o_orderkey, c.c_nationkey,
               (year(o.o_orderdate) * 12 + month(o.o_orderdate)) AS mi_book,
               CAST(date_trunc('month', min(CAST(l.l_shipdate AS DATE)))
                    AS DATE) AS settle_month,
               (year(min(CAST(l.l_shipdate AS DATE))) * 12
                + month(min(CAST(l.l_shipdate AS DATE)))) AS mi_settle,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderkey, c.c_nationkey, o.o_orderdate, o.o_totalprice
    ),
    x AS (
        SELECT n.n_name, o.settle_month,
               (o.cents * 1000000)
                   // (500000 + ((o.c_nationkey * 37 + o.mi_book * 17) % 1000)
                       * 1000) AS booked,
               (o.cents * 1000000)
                   // (500000 + ((o.c_nationkey * 37 + o.mi_settle * 17) % 1000)
                       * 1000) AS settled
        FROM o JOIN nation n ON o.c_nationkey = n.n_nationkey
    )
    SELECT n_name, settle_month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(booked) AS BIGINT) AS booked_base_cents,
           CAST(sum(settled) AS BIGINT) AS settled_base_cents,
           CAST(sum(settled) - sum(booked) AS BIGINT) AS fx_gain_cents
    FROM x GROUP BY 1, 2
    """


# --- round 9 wave 24 -------------------------------------------------------

def _mhsweep_bands(bands: int) -> str:
    """UNION-ALL band-key expansion over the shared signature table for
    one (bands, rows) LSH config — raw signature tuples as keys, no
    engine-native hash (the minhash_estimate_error pattern)."""
    rpb = 32 // bands
    blocks = []
    for b in range(bands):
        key = " || ':' || ".join(
            f"CAST(m{b * rpb + r} AS VARCHAR)" for r in range(rpb)
        )
        blocks.append(
            f"        SELECT id, {b} AS band_idx, {key} AS band_key FROM s"
        )
    return "\n        UNION ALL\n".join(blocks)


def _mhsweep_config(tag: str, bands: int) -> str:
    return f"""
    br_{tag} AS (
{_mhsweep_bands(bands)}
    ),
    c_{tag} AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM br_{tag} a JOIN br_{tag} b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.id < b.id
    ),
    v_{tag} AS (
        SELECT c.id_a, c.id_b,
               CASE WHEN 2 * len(list_intersect(sa.sh, sb.sh))
                         >= len(sa.sh) + len(sb.sh)
                              - len(list_intersect(sa.sh, sb.sh))
                    THEN 1 ELSE 0 END AS hit
        FROM c_{tag} c JOIN s sa ON c.id_a = sa.id JOIN s sb ON c.id_b = sb.id
    )"""


ORACLES["lsh_band_sweep_recall"] = f"""
    WITH s AS (SELECT * FROM '{_AUX_DIR}/minhash_sig_qa/*.parquet'),
    {_mhsweep_config("b16", 16)},
    {_mhsweep_config("b8", 8)},
    {_mhsweep_config("b4", 4)},
    pooled AS (
        SELECT DISTINCT id_a, id_b FROM (
            SELECT id_a, id_b FROM v_b16 WHERE hit = 1
            UNION ALL SELECT id_a, id_b FROM v_b8 WHERE hit = 1
            UNION ALL SELECT id_a, id_b FROM v_b4 WHERE hit = 1
        )
    ),
    stats AS (
        SELECT '16x2' AS config, CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(sum(hit) AS BIGINT) AS n_verified FROM v_b16
        UNION ALL
        SELECT '8x4', CAST(count(*) AS BIGINT), CAST(sum(hit) AS BIGINT)
        FROM v_b8
        UNION ALL
        SELECT '4x8', CAST(count(*) AS BIGINT), CAST(sum(hit) AS BIGINT)
        FROM v_b4
    )
    SELECT config, n_candidates, n_verified,
           CAST((n_verified * 1000000)
                // (SELECT count(*) FROM pooled) AS BIGINT) AS recall_ppm,
           CAST((n_verified * 1000000) // n_candidates AS BIGINT)
               AS precision_ppm
    FROM stats
    """

ORACLES["dso_monthly"] = """
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS sales_cents,
               CAST(sum(CASE WHEN o_orderstatus = 'O'
                             THEN CAST(round(o_totalprice * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS open_ar_cents
        FROM orders GROUP BY 1
    )
    SELECT month, sales_cents, open_ar_cents,
           CAST(day(last_day(month)) AS INT) AS days_in_month,
           CAST((open_ar_cents * day(last_day(month)) * 100) // sales_cents
                AS BIGINT) AS dso_centi_days
    FROM m
    """

ORACLES["gross_to_net_waterfall"] = """
    WITH l AS (
        SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS gross,
               CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)
                   AS disc,
               CASE WHEN l_returnflag = 'R'
                    THEN CAST(round(l_extendedprice * (1 - l_discount) * 100)
                              AS BIGINT) ELSE 0 END AS ret
        FROM lineitem
    )
    SELECT month,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(gross) AS BIGINT) AS gross_cents,
           CAST(sum(disc) AS BIGINT) AS discount_cents,
           CAST(sum(ret) AS BIGINT) AS returns_cents,
           CAST(sum(gross) - sum(disc) - sum(ret) AS BIGINT) AS net_cents
    FROM l GROUP BY 1
    """


# --- round 10 (wave 26) -----------------------------------------------------

# Roll-forward statement mart: the (account, month) grid with opening /
# activity / closing and a statement-section classification — the
# schedule an auditor reads next to the trial balance. Same journal
# legs as trial_balance_monthly; opening = closing - net activity is
# exact BIGINT arithmetic, so no lag() cross-engine frame subtleties.
ORACLES["balance_rollforward_monthly"] = """
    WITH o AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), r AS (
        SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
               CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                   AS cents
        FROM lineitem WHERE l_returnflag = 'R'
    ), j AS (
        SELECT month, 'accounts_receivable' AS account,
               cents AS debit, CAST(0 AS BIGINT) AS credit FROM o
        UNION ALL
        SELECT month, 'revenue', CAST(0 AS BIGINT), cents FROM o
        UNION ALL
        SELECT month, 'sales_returns', cents, CAST(0 AS BIGINT) FROM r
        UNION ALL
        SELECT month, 'accounts_receivable', CAST(0 AS BIGINT), cents FROM r
    ), m AS (
        SELECT month, account,
               CAST(sum(debit) AS BIGINT) AS debit_cents,
               CAST(sum(credit) AS BIGINT) AS credit_cents
        FROM j GROUP BY 1, 2
    ), b AS (
        SELECT account, month, debit_cents, credit_cents,
               CAST(sum(debit_cents - credit_cents) OVER (
                    PARTITION BY account ORDER BY month
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS closing_cents
        FROM m
    )
    SELECT account,
           CASE WHEN account = 'accounts_receivable' THEN 'asset'
                WHEN account = 'revenue' THEN 'revenue'
                ELSE 'contra_revenue' END AS section,
           month,
           CAST(closing_cents - (debit_cents - credit_cents) AS BIGINT)
               AS opening_cents,
           debit_cents, credit_cents, closing_cents
    FROM b
    """

# Statement of cash flows, indirect method, on the deterministic
# collections convention (every order collects in full the following
# month): OCF = net income - delta(AR) must equal the direct-method
# cash delta (collections) — the tie-out identity both engines derive
# independently in exact BIGINT cents.
ORACLES["cash_flow_indirect_monthly"] = """
    WITH o AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), r AS (
        SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
               CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                   AS cents
        FROM lineitem WHERE l_returnflag = 'R'
    ), rev AS (
        SELECT month, CAST(sum(cents) AS BIGINT) AS revenue_cents
        FROM o GROUP BY 1
    ), ret AS (
        SELECT month, CAST(sum(cents) AS BIGINT) AS returns_cents
        FROM r GROUP BY 1
    ), col AS (
        SELECT CAST(month + INTERVAL 1 MONTH AS DATE) AS month,
               CAST(sum(cents) AS BIGINT) AS collected_cents
        FROM o GROUP BY 1
    ), spine AS (
        SELECT month FROM rev
        UNION SELECT month FROM ret
        UNION SELECT month FROM col
    ), x AS (
        SELECT s.month,
               CAST(coalesce(rev.revenue_cents, 0) AS BIGINT) AS revenue_cents,
               CAST(coalesce(ret.returns_cents, 0) AS BIGINT) AS returns_cents,
               CAST(coalesce(col.collected_cents, 0) AS BIGINT)
                   AS collected_cents
        FROM spine s
        LEFT JOIN rev ON s.month = rev.month
        LEFT JOIN ret ON s.month = ret.month
        LEFT JOIN col ON s.month = col.month
    )
    SELECT month, revenue_cents, returns_cents,
           CAST(revenue_cents - returns_cents AS BIGINT) AS net_income_cents,
           CAST(revenue_cents - returns_cents - collected_cents AS BIGINT)
               AS delta_ar_cents,
           CAST(collected_cents AS BIGINT) AS ocf_indirect_cents,
           CAST(collected_cents AS BIGINT) AS cash_delta_cents
    FROM x
    """

# Near-dup cluster canonicalization: the same recursive transitive
# closure as dedup_clusters, then the DELETION POLICY — within each
# component keep the highest-quality doc (tie-break lowest id), mark
# the rest dropped. quality is the catalog's det-rounded score, so the
# ordering key is bit-identical across engines.
ORACLES["dedup_cluster_canonicalize"] = (
    ORACLES["dedup_clusters"].rsplit("SELECT id AS doc_id", 1)[0]
    + f""", cl AS (
        SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    ), q AS (
        SELECT doc_id, {_QUALITY_SQL} AS quality FROM documents
    ), x AS (
        SELECT cl.doc_id, cl.cluster_id, q.quality,
               first_value(cl.doc_id) OVER (
                   PARTITION BY cl.cluster_id
                   ORDER BY q.quality DESC NULLS LAST, cl.doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS canonical_id
        FROM cl JOIN q ON cl.doc_id = q.doc_id
    )
    SELECT doc_id, cluster_id, quality, canonical_id,
           CAST(CASE WHEN doc_id = canonical_id THEN 1 ELSE 0 END AS INT)
               AS keep
    FROM x
    """
)
# Storage-savings audit of the canonicalization policy: per (lang,
# source) block, how many docs/chars the keep-best rule deletes —
# exact integer counts and a truncating-integer-division ppm.
ORACLES["dedup_purge_savings"] = (
    ORACLES["dedup_clusters"].rsplit("SELECT id AS doc_id", 1)[0]
    + f""", cl AS (
        SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    ), q AS (
        SELECT doc_id, {_QUALITY_SQL} AS quality FROM documents
    ), x AS (
        SELECT cl.doc_id, cl.cluster_id,
               first_value(cl.doc_id) OVER (
                   PARTITION BY cl.cluster_id
                   ORDER BY q.quality DESC NULLS LAST, cl.doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS canonical_id
        FROM cl JOIN q ON cl.doc_id = q.doc_id
    )
    SELECT d.lang, d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT x.cluster_id) AS BIGINT) AS n_clusters,
           CAST(sum(CASE WHEN x.doc_id = x.canonical_id THEN 0 ELSE 1 END)
                AS BIGINT) AS n_dropped,
           CAST(sum(d.n_chars) AS BIGINT) AS chars_total,
           CAST(sum(CASE WHEN x.doc_id = x.canonical_id THEN 0
                         ELSE d.n_chars END) AS BIGINT) AS chars_dropped,
           CAST(sum(CASE WHEN x.doc_id = x.canonical_id THEN 0
                         ELSE d.n_chars END) * 1000000
                // nullif(sum(d.n_chars), 0) AS BIGINT) AS savings_ppm
    FROM x JOIN documents d ON x.doc_id = d.doc_id
    GROUP BY 1, 2
    """
)

# Cross-encoder-style rerank audit over the persisted ADC shortlist:
# both engines re-derive the interaction score (token-overlap ppm —
# exact integers), the rerank ordering, and the agreement metrics
# (top-10 overlap, rank L1, concordant/discordant Kendall pairs)
# from the same persisted shortlist table.
ORACLES["cross_encoder_rerank_eval"] = f"""
    WITH sl AS (
        SELECT query_id, neighbor_id, adc_rank
        FROM '{_AUX_DIR}/ce_shortlist/*.parquet'
    ), t AS (
        SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents
    ), q AS (
        SELECT doc_id AS query_id, toks AS q_toks FROM t
        WHERE doc_id IN (0, 1, 2, 3, 4)
    ), s AS (
        SELECT sl.query_id, sl.neighbor_id, sl.adc_rank,
               CAST(len(list_intersect(q.q_toks, c.toks)) AS BIGINT) AS inter,
               CAST(len(q.q_toks) + len(c.toks)
                    - len(list_intersect(q.q_toks, c.toks)) AS BIGINT) AS un
        FROM sl
        JOIN q ON q.query_id = sl.query_id
        JOIN t c ON c.doc_id = sl.neighbor_id
    ), ranked AS (
        SELECT query_id, neighbor_id, adc_rank,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY (CASE WHEN un = 0 THEN 0
                                  ELSE inter * 1000000 // un END) DESC,
                            neighbor_id ASC) AS ce_rank
        FROM s
    ), agg AS (
        SELECT query_id,
               CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(sum(CASE WHEN adc_rank <= 10 AND ce_rank <= 10
                             THEN 1 ELSE 0 END) AS BIGINT) AS top10_overlap,
               CAST(sum(abs(adc_rank - ce_rank)) AS BIGINT) AS rank_l1_total
        FROM ranked GROUP BY 1
    ), pairs AS (
        SELECT a.query_id,
               CAST(sum(CASE WHEN (a.adc_rank - b.adc_rank)
                                  * (a.ce_rank - b.ce_rank) > 0
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS concordant_pairs,
               CAST(sum(CASE WHEN (a.adc_rank - b.adc_rank)
                                  * (a.ce_rank - b.ce_rank) < 0
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS discordant_pairs
        FROM ranked a JOIN ranked b
          ON a.query_id = b.query_id AND a.neighbor_id < b.neighbor_id
        GROUP BY 1
    )
    SELECT agg.query_id, n_candidates, top10_overlap, rank_l1_total,
           concordant_pairs, discordant_pairs
    FROM agg JOIN pairs ON agg.query_id = pairs.query_id
    """

# LSH band-index compaction plan: each (band_idx, band_hash) bucket of
# the persisted MinHash band index is a small file; pack each band's
# buckets into ~64-row rewrite bins with the same next-fit-decreasing
# rule as compaction_bin_packing (exclusive running sum, exact integer
# div). Both engines derive the plan from the same persisted index.
ORACLES["lsh_index_compaction_plan"] = f"""
    WITH t AS (SELECT * FROM '{_AUX_DIR}/lsh_band_files/*.parquet'),
    b AS (
        SELECT u.band_idx AS band_idx, u.band_hash AS band_hash
        FROM (SELECT unnest(bands) AS u FROM t)
    ), f AS (
        SELECT band_idx, band_hash, CAST(count(*) AS BIGINT) AS n_rows
        FROM b GROUP BY 1, 2
    ), e AS (
        SELECT band_idx, band_hash, n_rows,
               CAST(coalesce(sum(n_rows) OVER (
                        PARTITION BY band_idx
                        ORDER BY n_rows DESC, band_hash
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS excl
        FROM f
    )
    SELECT band_idx, band_hash, n_rows,
           CAST(excl // 64 AS BIGINT) AS bin_id
    FROM e
    """


# --- round 10 (wave 27) -----------------------------------------------------

# t-closeness over the ordered sensitive attribute (balance class
# negative < low < high): per quasi-identifier group, the ordered-EMD
# distance to the global distribution in EXACT integer ppm —
# t = (1/(k-1)) * sum_i |cumP_group(i) - cumP_global(i)| becomes
# sum_i |cumG_i*N - cumT_i*nG| * 1e6 // (nG*N*(k-1)), all BIGINT.
ORACLES["t_closeness_audit"] = """
    WITH c AS (
        SELECT c_nationkey, c_mktsegment,
               CASE WHEN c_acctbal < 0 THEN 0
                    WHEN c_acctbal < 5000 THEN 1 ELSE 2 END AS cls
        FROM customer
    ), g AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN cls = 0 THEN 1 ELSE 0 END) AS BIGINT) AS g1,
               CAST(sum(CASE WHEN cls <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS g2
        FROM c GROUP BY 1, 2
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(CASE WHEN cls = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
               CAST(sum(CASE WHEN cls <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS t2
        FROM c
    ), x AS (
        SELECT c_nationkey, c_mktsegment, n_rows,
               CAST((abs(g1 * n_total - t1 * n_rows)
                     + abs(g2 * n_total - t2 * n_rows)) * 1000000
                    // (n_rows * n_total * 2) AS BIGINT) AS t_closeness_ppm
        FROM g, tot
    )
    SELECT c_nationkey, c_mktsegment, n_rows, t_closeness_ppm,
           CAST(CASE WHEN t_closeness_ppm > 200000 THEN 1 ELSE 0 END AS INT)
               AS t_violation
    FROM x
    """

# AR roll-rate transition matrix: every open order's aging bucket at
# two month-apart as-of dates; the (segment, from, to) migration
# counts, cents, and the per-(segment, from) roll rate in exact ppm.
ORACLES["ar_roll_rates"] = """
    WITH o AS (
        SELECT c.c_mktsegment AS segment,
               CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                   DATE '1998-07-01') <= 30 THEN '0-30'
                    WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                   DATE '1998-07-01') <= 60 THEN '31-60'
                    WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                   DATE '1998-07-01') <= 90 THEN '61-90'
                    ELSE '90+' END AS bucket_from,
               CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                   DATE '1998-08-01') <= 30 THEN '0-30'
                    WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                   DATE '1998-08-01') <= 60 THEN '31-60'
                    WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                   DATE '1998-08-01') <= 90 THEN '61-90'
                    ELSE '90+' END AS bucket_to,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderstatus = 'O'
          AND CAST(o.o_orderdate AS DATE) <= DATE '1998-07-01'
    ), m AS (
        SELECT segment, bucket_from, bucket_to,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS ar_cents
        FROM o GROUP BY 1, 2, 3
    )
    SELECT segment, bucket_from, bucket_to, n_orders, ar_cents,
           CAST(n_orders * 1000000
                // sum(n_orders) OVER (PARTITION BY segment, bucket_from)
                AS BIGINT) AS roll_rate_ppm
    FROM m
    """

# IVF cell-balance audit: population and skew of the persisted
# inverted-file index — the observability read before trusting nprobe
# latency at scale (one hot cell = the tail). share/skew in exact ppm
# (skew 1e6 = perfectly balanced).
ORACLES["ivf_cell_balance"] = f"""
    WITH ix AS (SELECT * FROM '{_AUX_DIR}/ivf_cell_index/*.parquet'),
    g AS (
        SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs FROM ix GROUP BY 1
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_total,
               CAST(count(DISTINCT cell) AS BIGINT) AS n_cells
        FROM ix
    )
    SELECT cell, n_vecs,
           CAST(n_vecs * 1000000 // n_total AS BIGINT) AS share_ppm,
           CAST(n_vecs * n_cells * 1000000 // n_total AS BIGINT) AS skew_ppm
    FROM g, tot
    """

# Incremental LSH-index compaction delta: after a batch lands in the
# band index, which of the standing compaction plan's bins are dirtied
# (contain a grown bucket) and how much new data needs placement —
# derived by both engines from the two persisted index tables.
ORACLES["lsh_compaction_delta"] = f"""
    WITH c AS (SELECT * FROM '{_AUX_DIR}/lsh_delta_corpus/*.parquet'),
    b AS (SELECT * FROM '{_AUX_DIR}/lsh_delta_batch/*.parquet'),
    cb AS (
        SELECT u.band_idx AS band_idx, u.band_hash AS band_hash
        FROM (SELECT unnest(bands) AS u FROM c)
    ), bb AS (
        SELECT u.band_idx AS band_idx, u.band_hash AS band_hash
        FROM (SELECT unnest(bands) AS u FROM b)
    ), f0 AS (
        SELECT band_idx, band_hash, CAST(count(*) AS BIGINT) AS n_rows
        FROM cb GROUP BY 1, 2
    ), plan0 AS (
        SELECT band_idx, band_hash, n_rows,
               CAST(CAST(coalesce(sum(n_rows) OVER (
                        PARTITION BY band_idx
                        ORDER BY n_rows DESC, band_hash
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) // 64 AS BIGINT) AS bin_id
        FROM f0
    ), delta AS (
        SELECT band_idx, band_hash, CAST(count(*) AS BIGINT) AS rows_added
        FROM bb GROUP BY 1, 2
    ), joined AS (
        SELECT coalesce(d.band_idx, p.band_idx) AS band_idx,
               d.rows_added,
               p.bin_id,
               CASE WHEN p.band_hash IS NULL THEN 1 ELSE 0 END AS is_new,
               CASE WHEN p.band_hash IS NOT NULL
                         AND d.band_hash IS NOT NULL THEN 1 ELSE 0 END
                   AS is_grown
        FROM delta d FULL OUTER JOIN plan0 p
          ON d.band_idx = p.band_idx AND d.band_hash = p.band_hash
    )
    SELECT band_idx,
           CAST(count(CASE WHEN bin_id IS NOT NULL THEN 1 END) AS BIGINT)
               AS n_buckets_before,
           CAST(max(bin_id) + 1 AS BIGINT) AS n_bins_before,
           CAST(sum(is_new) AS BIGINT) AS n_new_buckets,
           CAST(sum(is_grown) AS BIGINT) AS n_grown_buckets,
           CAST(count(DISTINCT CASE WHEN is_grown = 1 THEN bin_id END)
                AS BIGINT) AS n_dirty_bins,
           CAST(coalesce(sum(rows_added), 0) AS BIGINT) AS rows_added
    FROM joined GROUP BY 1
    """

# Tokenizer fertility per language: whitespace vs BPE-ish token counts
# and chars per BPE token — the token-budgeting observability a
# multilingual corpus needs (fertility differences decide per-language
# sampling budgets). Exact integer sums and truncating-division ppm.
ORACLES["tokenizer_fertility_by_lang"] = f"""
    WITH d AS (
        SELECT lang,
               CAST(length(text) AS BIGINT) AS chars,
               CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                    t -> t <> '')) AS BIGINT) AS ws_toks,
               CAST(len(regexp_extract_all(text,
                        '{_BPE_RE}')) AS BIGINT)
                   AS bpe_toks
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(chars) AS BIGINT) AS n_chars,
           CAST(sum(ws_toks) AS BIGINT) AS n_ws_tokens,
           CAST(sum(bpe_toks) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(bpe_toks) * 1000000 // nullif(sum(ws_toks), 0) AS BIGINT)
               AS fertility_ppm,
           CAST(sum(chars) * 1000000 // nullif(sum(bpe_toks), 0) AS BIGINT)
               AS chars_per_bpe_ppm
    FROM d GROUP BY 1
    """


# --- round 10 (wave 28) -----------------------------------------------------

# Cross-source duplication heatmap: distinct 8-gram containment between
# every ordered source pair (how much of source A's gram inventory also
# appears in source B) — the overlap read before mixing corpus dumps.
# Exact integer counts; gram-keyed join fans out to at most
# n_sources^2 rows per gram.
ORACLES["source_overlap_matrix"] = f"""
    WITH toks AS (
        SELECT source, {_TOKS} AS toks FROM documents
    ), grams AS (
        SELECT DISTINCT source, gram FROM (
            SELECT source,
                   unnest(list_transform(generate_series(1, len(toks) - 7),
                          i -> array_to_string(toks[i:i+7], ' '))) AS gram
            FROM toks WHERE len(toks) >= 8
        )
    ), tot AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_grams
        FROM grams GROUP BY 1
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS shared_grams,
           t.n_grams AS grams_a,
           CAST(count(*) * 1000000 // t.n_grams AS BIGINT) AS containment_ppm
    FROM grams a
    JOIN grams b ON a.gram = b.gram
    JOIN tot t ON t.source = a.source
    GROUP BY 1, 2, t.n_grams
    """

# Post-shuffle shard balance: per shard, doc and BPE-token mass plus
# the skew factor (1e6 = balanced) — the straggler check before
# handing shards to a training loader.
ORACLES["shard_balance_audit"] = f"""
    WITH d AS (
        SELECT CAST({_b256("shuffle")} AS INT) % 16 AS shard,
               CAST(len(regexp_extract_all(text,
                    '{_BPE_RE}')) AS BIGINT) AS bpe
        FROM documents
    ), g AS (
        SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(bpe) AS BIGINT) AS n_tokens
        FROM d GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               CAST(count(*) AS BIGINT) AS n_shards
        FROM g
    )
    SELECT shard, n_docs, n_tokens,
           CAST(n_tokens * n_shards * 1000000 // total_tokens AS BIGINT)
               AS skew_ppm
    FROM g, tot
    """


def _packing_efficiency_sql(budget: int) -> str:
    """One budget's packing-efficiency row — same md5 shuffle order and
    prefix-sum pack rule as ORACLES['sequence_packing']."""
    return f"""
    SELECT CAST({budget} AS BIGINT) AS budget,
           CAST(count(*) AS BIGINT) AS n_packs,
           CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(greatest(0, {budget} - pack_tokens)) AS BIGINT)
               AS underfill_tokens,
           CAST(sum(greatest(0, pack_tokens - {budget})) AS BIGINT)
               AS overflow_tokens,
           CAST(sum(pack_tokens) * 1000000 // (count(*) * {budget}) AS BIGINT)
               AS fill_ppm
    FROM (
        SELECT shard, pack_id, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
        FROM (
            SELECT shard, doc_id, n_tokens,
                   CAST(floor((sum(n_tokens) OVER (
                           PARTITION BY shard ORDER BY k, doc_id
                           ROWS UNBOUNDED PRECEDING) - n_tokens)
                        / {budget}.0) AS BIGINT) AS pack_id
            FROM (
                SELECT doc_id,
                       CAST({_b256("pack")} AS INT) % 16 AS shard,
                       {_md5_key("pack")} AS k,
                       CAST(len(list_filter(string_split_regex(trim(text),
                            '\\s+'), t -> t <> '')) AS BIGINT) AS n_tokens
                FROM documents
            )
        ) GROUP BY 1, 2
    )
    """


# Context-length ablation for sequence packing: at 256/512/1024 token
# budgets, pack count, fill rate, underfill and overflow mass — the
# numbers that decide a training context length. Same deterministic
# shuffle order at every budget.
ORACLES["packing_efficiency_sweep"] = " UNION ALL ".join(
    _packing_efficiency_sql(b) for b in (256, 512, 1024)
)

# Average precision (PR-AUC companion to roc_auc_exact) over the same
# linear-probe scores: distinct-score spine with group-level tie
# handling — precision at each score-group boundary as an exact
# truncating-integer ppb, weighted by the group's positives. Shares
# the roc oracle's scored CTE verbatim.
ORACLES["pr_auc_exact"] = (
    ORACLES["roc_auc_exact"].split("), per AS (")[0]
    + """), per AS (
        SELECT score, CAST(count(*) AS BIGINT) AS n_s,
               CAST(sum(y) AS BIGINT) AS n_pos_s
        FROM scored GROUP BY 1
    ), ranked AS (
        SELECT n_s, n_pos_s,
               CAST(sum(n_s) OVER (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_n,
               CAST(sum(n_pos_s) OVER (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_tp
        FROM per
    )
    SELECT CAST(sum(n_s) AS BIGINT) AS n_rows,
           CAST(sum(n_pos_s) AS BIGINT) AS n_pos,
           CAST(sum(n_pos_s * ((cum_tp * 1000000000) // cum_n))
                // nullif(sum(n_pos_s), 0) AS BIGINT) AS ap_ppb
    FROM ranked
    """
)


# --- round 10 (wave 29) -----------------------------------------------------

# CECL-style allowance: the aging grid priced with a fixed per-bucket
# expected-loss policy — reserve = AR x loss_rate, one truncating
# integer division per cell. Composes ar_aging_buckets into the
# allowance mart under every bad-debt estimate.
ORACLES["allowance_expected_loss"] = """
    WITH a AS (
        SELECT c.c_mktsegment AS segment,
               CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                   DATE '1998-08-01') <= 30 THEN '0-30'
                    WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                   DATE '1998-08-01') <= 60 THEN '31-60'
                    WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                   DATE '1998-08-01') <= 90 THEN '61-90'
                    ELSE '90+' END AS bucket,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderstatus = 'O'
          AND CAST(o.o_orderdate AS DATE) <= DATE '1998-08-01'
    ), g AS (
        SELECT segment, bucket,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS ar_cents
        FROM a GROUP BY 1, 2
    )
    SELECT segment, bucket, n_orders, ar_cents,
           CAST(CASE bucket WHEN '0-30' THEN 10000
                            WHEN '31-60' THEN 50000
                            WHEN '61-90' THEN 200000
                            ELSE 500000 END AS BIGINT) AS loss_rate_ppm,
           CAST(ar_cents * (CASE bucket WHEN '0-30' THEN 10000
                                        WHEN '31-60' THEN 50000
                                        WHEN '61-90' THEN 200000
                                        ELSE 500000 END)
                // 1000000 AS BIGINT) AS reserve_cents
    FROM g
    """

# Unrealized FX remeasurement of the OPEN receivable book: booked at
# each order's order-month rate, remeasured at the fixed as-of month
# rate — the balance-sheet companion to fx_gain_loss_realized, same
# deterministic rate surface, both conversions truncating integer
# divisions. mi_asof = 1998*12 + 8.
ORACLES["fx_unrealized_remeasurement"] = """
    WITH o AS (
        SELECT c.c_nationkey,
               (year(o.o_orderdate) * 12 + month(o.o_orderdate)) AS mi_book,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderstatus = 'O'
          AND CAST(o.o_orderdate AS DATE) <= DATE '1998-08-01'
    ), x AS (
        SELECT n.n_name, o.cents,
               (o.cents * 1000000)
                   // (500000 + ((o.c_nationkey * 37 + o.mi_book * 17) % 1000)
                       * 1000) AS booked,
               (o.cents * 1000000)
                   // (500000 + ((o.c_nationkey * 37 + (1998 * 12 + 8) * 17)
                                 % 1000) * 1000) AS remeasured
        FROM o JOIN nation n ON o.c_nationkey = n.n_nationkey
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS open_cents,
           CAST(sum(booked) AS BIGINT) AS booked_base_cents,
           CAST(sum(remeasured) AS BIGINT) AS remeasured_base_cents,
           CAST(sum(remeasured) - sum(booked) AS BIGINT)
               AS unrealized_gain_cents
    FROM x GROUP BY 1
    """


def _quality_ablation_sql(thresh: str) -> str:
    """One quality threshold's per-lang survival row."""
    return f"""
    SELECT CAST({thresh} AS DOUBLE) AS threshold, lang,
           CAST(count(*) AS BIGINT) AS n_docs_total,
           CAST(sum(CASE WHEN q >= {thresh} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_kept,
           CAST(sum(bpe) AS BIGINT) AS tokens_total,
           CAST(sum(CASE WHEN q >= {thresh} THEN bpe ELSE 0 END) AS BIGINT)
               AS tokens_kept,
           CAST(sum(CASE WHEN q >= {thresh} THEN bpe ELSE 0 END) * 1000000
                // nullif(sum(bpe), 0) AS BIGINT) AS token_keep_ppm
    FROM (
        SELECT lang, {_QUALITY_SQL} AS q,
               CAST(len(regexp_extract_all(text,
                    '{_BPE_RE}')) AS BIGINT) AS bpe
        FROM documents
    ) GROUP BY 1, 2
    """


# Quality-threshold ablation: per (threshold, lang), docs and BPE-token
# mass surviving each cutoff — the composition-shift check run before
# committing a quality filter (a cutoff that looks mild globally can
# gut one language). Thresholds are exactly-representable doubles.
ORACLES["quality_filter_ablation"] = " UNION ALL ".join(
    _quality_ablation_sql(t) for t in ("0.25", "0.5", "0.75")
)

# Quantized-serving recall audit: int8 codes (GLOBAL symmetric scale,
# persisted) ranked by EXACT integer dot product vs the exact-cosine
# truth — recall@10 per query. The integer dot makes the quantized
# ranking bit-deterministic in both engines; the truth side re-derives
# the same det-rounded cosine as similarity_topk.
ORACLES["int8_recall_audit"] = f"""
    WITH codes AS (SELECT * FROM '{_AUX_DIR}/int8_codes/*.parquet'),
    qc AS (
        SELECT vec_id AS query_id, codes AS qcodes FROM codes
        WHERE vec_id IN (0, 1, 2, 3, 4)
    ), i8 AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY list_dot_product(q.qcodes, c.codes) DESC,
                                c.vec_id ASC) AS r
            FROM codes c, qc q WHERE c.vec_id <> q.query_id
        ) WHERE r <= 10
    ), q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
    ), c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    ), scored AS (
        SELECT query_id, neighbor_id,
               (CASE WHEN isnan(CAST((list_dot_product(qv, cv)
                     / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)), 0)) AS DOUBLE)) OR abs(CAST((list_dot_product(qv, cv)
                     / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)), 0)) AS DOUBLE)) >= 4611686018427.388 THEN (list_dot_product(qv, cv)
                     / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)), 0)) ELSE floor((list_dot_product(qv, cv)
                     / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)), 0)) * 1000000.0 + 0.5) / 1000000.0 END) AS score
        FROM c, q
        WHERE query_id <> neighbor_id
    ), truth AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, neighbor_id ASC) AS r
            FROM scored
        ) WHERE r <= 10
    )
    SELECT t.query_id,
           CAST(count(i8.neighbor_id) AS BIGINT) AS hits,
           CAST(count(i8.neighbor_id) * 1000000 // 10 AS BIGINT)
               AS recall_ppm
    FROM truth t LEFT JOIN i8
      ON t.query_id = i8.query_id AND t.neighbor_id = i8.neighbor_id
    GROUP BY 1
    """


# PQ codebook utilization: per subspace, how many of the 256 codes the
# corpus actually uses and how concentrated the assignment is — the
# codebook-collapse check (a subspace riding one code carries zero
# bits and silently degrades ADC resolution). Exact integers from the
# persisted code table.
ORACLES["pq_codebook_utilization"] = f"""
    WITH ix AS (SELECT * FROM '{_AUX_DIR}/pq_index/*.parquet'),
    g AS (
        SELECT m, code, CAST(count(*) AS BIGINT) AS n
        FROM ix GROUP BY 1, 2
    )
    SELECT m,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS codes_used,
           CAST(max(n) AS BIGINT) AS top_code_rows,
           CAST(max(n) * 1000000 // sum(n) AS BIGINT) AS top_share_ppm
    FROM g GROUP BY 1
    """


# Cross-method near-dup agreement: the pair sets found by MinHash-LSH
# (J >= 0.5) and SimHash (hamming <= 3) over the same corpus, counted
# as both / only-one / union with an exact agreement ppm — the QA read
# when two dedup detectors must corroborate before deletion. Both pair
# sets re-derived by the oracle from the two persisted signature
# tables (its own aux names, so no cross-query coupling).
ORACLES["dedup_method_agreement"] = (
    ORACLES["minhash_lsh_near_dup"]
    .replace(f"{_AUX_DIR}/minhash_index", f"{_AUX_DIR}/agree_minhash_index")
    .rsplit("SELECT id_a, id_b, jaccard", 1)[0]
    + f""", mh AS (
        SELECT id_a, id_b FROM scored WHERE jaccard >= 0.5
    ), sg AS (
        SELECT * FROM '{_AUX_DIR}/agree_simhash_sigs/*.parquet'
    ), sh AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM sg a JOIN sg b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ), j AS (
        SELECT CASE WHEN mh.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_mh,
               CASE WHEN sh.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_sh
        FROM mh FULL OUTER JOIN sh
          ON mh.id_a = sh.id_a AND mh.id_b = sh.id_b
    )
    SELECT CAST(sum(in_mh) AS BIGINT) AS n_minhash_pairs,
           CAST(sum(in_sh) AS BIGINT) AS n_simhash_pairs,
           CAST(sum(in_mh * in_sh) AS BIGINT) AS n_both,
           CAST(count(*) AS BIGINT) AS n_union,
           CAST(sum(in_mh * in_sh) * 1000000 // nullif(count(*), 0)
                AS BIGINT) AS agreement_ppm
    FROM j
    """
)


# --- round 10 (wave 33) -----------------------------------------------------


def _session_census_sql(minutes: int) -> str:
    """One gap threshold's session census — same lag/prefix-sum
    sessionization as ORACLES['sessionize_events']."""
    return f"""
    SELECT CAST({minutes} AS BIGINT) AS gap_minutes,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_single_event,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(sum(n) * 1000000 // count(*) AS BIGINT)
               AS events_per_session_ppm
    FROM (
        SELECT count(*) AS n FROM (
            SELECT user_id,
                   sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sess
            FROM (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w
                                    >= INTERVAL '{minutes} minutes'
                            THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            )
        ) GROUP BY user_id, sess
    )
    """


# Session-gap ablation: the session census at 15/30/60-minute gap
# thresholds — the table read before committing a sessionization gap
# (too short fragments journeys, too long merges visits). Event totals
# are gap-invariant by construction; all cells exact integers.
ORACLES["session_gap_sweep"] = " UNION ALL ".join(
    _session_census_sql(m) for m in (15, 30, 60)
)


# --- round 10 (wave 34) -----------------------------------------------------

# Customer-concentration disclosure: the top-10 customers' share of
# each year's revenue — the concentration-risk line every annual
# report carries. Deterministic rank (cents DESC, custkey), exact
# BIGINT sums, one truncating division into ppm.
ORACLES["customer_concentration_topn"] = """
    WITH r AS (
        SELECT CAST(year(o_orderdate) AS INT) AS yr, o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1, 2
    ), k AS (
        SELECT yr, cents,
               row_number() OVER (PARTITION BY yr
                                  ORDER BY cents DESC, o_custkey) AS rk
        FROM r
    )
    SELECT yr,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(sum(CASE WHEN rk <= 10 THEN cents ELSE 0 END) AS BIGINT)
               AS top10_cents,
           CAST(sum(CASE WHEN rk <= 10 THEN cents ELSE 0 END) * 1000000
                // sum(cents) AS BIGINT) AS top10_share_ppm
    FROM k GROUP BY 1
    """

# What the compaction plan buys: per partition, file count before vs
# bin count after, the open-cost reduction and the bin fill rate in
# exact ppm — the summary a table-maintenance scheduler reads to
# decide WHICH partitions to rewrite first.
ORACLES["compaction_savings_summary"] = """
    WITH f AS (
        SELECT l_returnflag AS pt_flag, l_linestatus AS pt_status,
               l_suppkey AS file_id,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS size_bytes
        FROM lineitem GROUP BY 1, 2, 3
    ), e AS (
        SELECT pt_flag, pt_status, size_bytes,
               CAST(CAST(coalesce(sum(size_bytes) OVER (
                        PARTITION BY pt_flag, pt_status
                        ORDER BY size_bytes DESC, file_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) // 100000000 AS BIGINT) AS bin_id
        FROM f
    )
    SELECT pt_flag, pt_status,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(count(DISTINCT bin_id) AS BIGINT) AS n_bins,
           CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
           CAST((count(*) - count(DISTINCT bin_id)) * 1000000
                // count(*) AS BIGINT) AS open_cost_reduction_ppm,
           CAST(sum(size_bytes) * 1000000
                // (count(DISTINCT bin_id) * 100000000) AS BIGINT)
               AS bin_fill_ppm
    FROM e GROUP BY 1, 2
    """


# Per-dimension embedding profile: min/max/span per coordinate — the
# scale audit behind symmetric quantization (one runaway dimension
# dictates the global scale and crushes everyone else's resolution).
# min/max of stored doubles are order-free and bit-exact; span is a
# single IEEE subtraction.
ORACLES["embedding_dim_profile"] = """
    SELECT d.i AS dim,
           CAST(count(*) AS BIGINT) AS n_vecs,
           min(e.v[d.i + 1]) AS min_val,
           max(e.v[d.i + 1]) AS max_val,
           max(e.v[d.i + 1]) - min(e.v[d.i + 1]) AS span
    FROM (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings) e,
         (SELECT unnest(range(0, 64)) AS i) d
    GROUP BY 1
    """


# --- round 10 (wave 36) -----------------------------------------------------

# Consolidation elimination entries: per selling entity (supplier
# nation), gross revenue split into intercompany (buyer nation ==
# seller nation) and external third-party revenue — the netting a
# group controller books before consolidated revenue is reported.
# Exact BIGINT cents end-to-end; the ppm share divides non-negative
# integers (floor-div safe cross-engine).
ORACLES["intercompany_elimination"] = """
    WITH f AS (
        SELECT sn.n_name AS entity,
               CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT) AS cents,
               CASE WHEN c.c_nationkey = s.s_nationkey THEN 1 ELSE 0 END
                   AS ic
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    )
    SELECT entity,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(cents) AS BIGINT) AS gross_cents,
           CAST(sum(CASE WHEN ic = 1 THEN cents ELSE 0 END) AS BIGINT)
               AS intercompany_cents,
           CAST(sum(CASE WHEN ic = 0 THEN cents ELSE 0 END) AS BIGINT)
               AS external_cents,
           CAST((sum(CASE WHEN ic = 1 THEN cents ELSE 0 END) * 1000000)
                // sum(cents) AS BIGINT) AS intercompany_ppm
    FROM f GROUP BY 1
    """


# Straight-line depreciation schedule with largest-remainder cent
# allocation: every period row is closed-form from (cost, period_no) —
# div/mod/least on non-negative BIGINTs, no window, no floats — so
# accumulated depreciation lands on the cost EXACTLY at period 36.
ORACLES["depreciation_schedule_sl"] = """
    WITH a AS (
        SELECT p_partkey AS asset_id,
               CAST(round(p_retailprice * 100) AS BIGINT) AS cost_cents,
               make_date(CAST(1995 + p_partkey % 3 AS INTEGER),
                         CAST(1 + p_partkey % 12 AS INTEGER), 1)
                   AS in_service
        FROM part WHERE p_partkey % 7 = 0
    ),
    s AS (
        SELECT a.*, CAST(m.m AS BIGINT) AS period_no
        FROM a, (SELECT unnest(range(1, 37)) AS m) m
    )
    SELECT asset_id, period_no,
           CAST(in_service + ((period_no - 1) * INTERVAL 1 MONTH) AS DATE)
               AS period_month,
           cost_cents,
           CAST(cost_cents // 36
                + CASE WHEN period_no <= cost_cents % 36 THEN 1 ELSE 0 END
                AS BIGINT) AS dep_cents,
           CAST((cost_cents // 36) * period_no
                + least(period_no, cost_cents % 36) AS BIGINT)
               AS accum_cents,
           CAST(cost_cents - (cost_cents // 36) * period_no
                - least(period_no, cost_cents % 36) AS BIGINT)
               AS nbv_cents
    FROM s
    """


# Weekly spend-band migration matrix (credit-migration analog): users
# banded on exact weekly purchase cents, transitions counted into the
# following ISO week (band 0 = churned). Exact integers over a bounded
# 4x5 transition domain; the share window partitions by from_band.
ORACLES["segment_migration_matrix"] = """
    WITH uw AS (
        SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
               CAST(round(sum(value) * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    b AS (
        SELECT user_id, week,
               CASE WHEN cents < 8000 THEN 1 WHEN cents < 16000 THEN 2
                    WHEN cents < 32000 THEN 3 ELSE 4 END AS band
        FROM uw
    ),
    mx AS (SELECT max(week) AS maxw FROM uw),
    t AS (
        SELECT cur.band AS from_band, COALESCE(nxt.band, 0) AS to_band
        FROM b cur
        CROSS JOIN mx
        LEFT JOIN b nxt ON nxt.user_id = cur.user_id
                       AND nxt.week = cur.week + INTERVAL 7 DAY
        WHERE cur.week < mx.maxw
    )
    SELECT from_band, to_band, CAST(count(*) AS BIGINT) AS n_users,
           CAST((count(*) * 1000000)
                // sum(count(*)) OVER (PARTITION BY from_band) AS BIGINT)
               AS share_ppm
    FROM t GROUP BY 1, 2
    """


# Wilson 95% score interval per brand return rate. The bound formulas
# are shared TEXTUALLY between engines (module constants below): every
# term is an IEEE-correctly-rounded op (div/mul/add/sqrt) on exact
# integer inputs, so both engines produce bit-identical doubles — the
# same contract det_round relies on, with no rounding at all.
_WILSON_N = "CAST(n_lines AS DOUBLE)"
_WILSON_PHAT = f"(CAST(r_lines AS DOUBLE) / {_WILSON_N})"
_WILSON_DEN = f"(1.0 + 3.8416 / {_WILSON_N})"
_WILSON_CENTER = f"(({_WILSON_PHAT} + 3.8416 / (2.0 * {_WILSON_N})) / {_WILSON_DEN})"
_WILSON_HALF = (
    f"(1.96 * sqrt({_WILSON_PHAT} * (1.0 - {_WILSON_PHAT}) / {_WILSON_N}"
    f" + 3.8416 / (4.0 * {_WILSON_N} * {_WILSON_N})) / {_WILSON_DEN})"
)
WILSON_EXPRS = {
    "phat": _WILSON_PHAT,
    "wilson_lo": f"({_WILSON_CENTER} - {_WILSON_HALF})",
    "wilson_hi": f"({_WILSON_CENTER} + {_WILSON_HALF})",
}

ORACLES["wilson_ci_return_rates"] = f"""
    WITH g AS (
        SELECT p.p_brand AS brand,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS r_lines
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1
    )
    SELECT brand, n_lines, r_lines,
           {WILSON_EXPRS['phat']} AS phat,
           {WILSON_EXPRS['wilson_lo']} AS wilson_lo,
           {WILSON_EXPRS['wilson_hi']} AS wilson_hi
    FROM g
    """


# --- round 10 (wave 37) -----------------------------------------------------

# Per-(label, dim) centroid of GLOBALLY-scaled int8 codes (the same
# persisted-code convention int8_recall_audit serves): integer sums
# are order-free and exact, so centroids and their deltas vs the
# global centroid are single exact divisions — the embedding-drift
# audit (which labels pull which dimensions) with zero float SUMs.
ORACLES["quantized_centroid_profile"] = f"""
    WITH codes AS (SELECT * FROM '{_AUX_DIR}/centroid_codes/*.parquet'),
    x AS (
        SELECT label, d.i AS dim, codes[d.i + 1] AS code
        FROM codes, (SELECT unnest(range(0, 64)) AS i) d
    ),
    g AS (
        SELECT label, dim, CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(sum(code) AS BIGINT) AS sum_code
        FROM x GROUP BY 1, 2
    ),
    gl AS (
        SELECT dim, CAST(count(*) AS BIGINT) AS gn,
               CAST(sum(code) AS BIGINT) AS gsum
        FROM x GROUP BY 1
    )
    SELECT label, g.dim AS dim, n_vecs, sum_code,
           CAST(sum_code AS DOUBLE) / CAST(n_vecs AS DOUBLE) AS mean_code,
           CAST(sum_code * gn - gsum * n_vecs AS DOUBLE)
               / CAST(n_vecs * gn AS DOUBLE) AS delta_vs_global
    FROM g JOIN gl ON gl.dim = g.dim
    """


# Mutual-kNN reciprocity over the persisted LSH candidate graph: both
# engines re-derive candidates, det-rounded cosine ranks (id
# tiebreak), and the reciprocal-edge census from the same parquet
# index. Counters are exact integers; no float column is emitted.
ORACLES["knn_graph_reciprocity"] = f"""
    WITH b AS (SELECT * FROM '{_AUX_DIR}/knn_graph_buckets/*.parquet'),
    cand AS (
        SELECT DISTINCT b1.id AS src, b2.id AS dst
        FROM b b1 JOIN b b2 ON b1.tbl = b2.tbl AND b1.bucket = b2.bucket
        WHERE b1.id <> b2.id
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (
        SELECT src, dst,
               {_dr_top("list_dot_product(se.v, de.v) / nullif(sqrt(list_dot_product(se.v, se.v)) * sqrt(list_dot_product(de.v, de.v)), 0)", 6)} AS score
        FROM cand JOIN e se ON se.vec_id = cand.src
                  JOIN e de ON de.vec_id = cand.dst
    ),
    t AS (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY score DESC, dst ASC) AS rank
        FROM s
    ),
    tk AS (SELECT src, dst, rank FROM t WHERE rank <= 10),
    j AS (
        SELECT a.rank AS r, b.rank AS rr
        FROM tk a LEFT JOIN tk b ON b.src = a.dst AND b.dst = a.src
    )
    SELECT CAST(sum(CASE WHEN r <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS edges_1,
           CAST(sum(CASE WHEN r <= 1 AND rr <= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS mutual_1,
           CAST(sum(CASE WHEN r <= 1 AND rr <= 1 THEN 1 ELSE 0 END) * 1000000
                // sum(CASE WHEN r <= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS recip_ppm_1,
           CAST(sum(CASE WHEN r <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS edges_5,
           CAST(sum(CASE WHEN r <= 5 AND rr <= 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS mutual_5,
           CAST(sum(CASE WHEN r <= 5 AND rr <= 5 THEN 1 ELSE 0 END) * 1000000
                // sum(CASE WHEN r <= 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS recip_ppm_5,
           CAST(sum(CASE WHEN r <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS edges_10,
           CAST(sum(CASE WHEN r <= 10 AND rr <= 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS mutual_10,
           CAST(sum(CASE WHEN r <= 10 AND rr <= 10 THEN 1 ELSE 0 END) * 1000000
                // sum(CASE WHEN r <= 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS recip_ppm_10
    FROM j
    """


# Delta-encoding audit: per column, zigzag-encoded deltas within
# 1024-key blocks, bit-width from len(bin(z)) (exact integers in both
# engines), block bytes = ceil(n*maxbits/8) + 8-byte base. The
# storage-planning read before choosing parquet encodings for a
# 100-TB table; all arithmetic integer, ratio in exact ppm.
ORACLES["delta_encoding_savings"] = """
    WITH base AS (
        SELECT o_orderkey AS k,
               CAST(o_orderkey AS BIGINT) AS v_key,
               CAST(o_custkey AS BIGINT) AS v_cust,
               CAST(round(o_totalprice * 100) AS BIGINT) AS v_price
        FROM orders
    ),
    c AS (
        SELECT k, col_name, val
        FROM base UNPIVOT (val FOR col_name IN (v_key, v_cust, v_price))
    ),
    d AS (
        SELECT col_name, k // 1024 AS block, val,
               val - lag(val) OVER (PARTITION BY col_name, k // 1024
                                    ORDER BY k) AS delta
        FROM c
    ),
    z AS (
        SELECT col_name, block,
               CASE WHEN delta IS NULL THEN 0
                    WHEN delta >= 0 THEN 2 * delta
                    ELSE -2 * delta - 1 END AS zz
        FROM d
    ),
    bl AS (
        SELECT col_name, block, CAST(count(*) AS BIGINT) AS n,
               CAST(max(len(bin(zz))) AS BIGINT) AS maxbits
        FROM z GROUP BY 1, 2
    )
    SELECT col_name,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(n) * 8 AS BIGINT) AS plain_bytes,
           CAST(sum((n * maxbits + 7) // 8 + 8) AS BIGINT) AS delta_bytes,
           CAST(sum((n * maxbits + 7) // 8 + 8) * 1000000
                // (sum(n) * 8) AS BIGINT) AS ratio_ppm
    FROM bl GROUP BY 1
    """


# --- round 10 (wave 38) -----------------------------------------------------

# Blocking-key audit for entity resolution: per candidate-generation
# config, how many pairs the key funnels into the verifier and
# whether the TRUE match survives blocking. tail-4/tail-3 are
# recall-complete for the deletion corruption class; the fixed mid-4
# window reads shifted content after a deletion and silently loses
# most true pairs while ALSO funneling ~1000x more candidates — the
# exact failure mode entity_resolution_blocked's docstring warns
# about, here measured instead of asserted. Exact integers only.
ORACLES["blocking_recall_audit"] = """
    WITH q AS (
        SELECT c_custkey AS query_id,
               substr(c_name, 1, 9 + (c_custkey % 4))
                   || substr(c_name, 11 + (c_custkey % 4), 18) AS q_name
        FROM customer
    ),
    r AS (SELECT c_custkey AS ref_id, c_name AS r_name FROM customer),
    cfg AS (
        SELECT 'tail4' AS config, query_id, ref_id
        FROM q JOIN r ON right(q_name, 4) = right(r_name, 4)
        UNION ALL
        SELECT 'tail3', query_id, ref_id
        FROM q JOIN r ON right(q_name, 3) = right(r_name, 3)
        UNION ALL
        SELECT 'mid4', query_id, ref_id
        FROM q JOIN r ON substr(q_name, 12, 4) = substr(r_name, 12, 4)
    ),
    nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM q)
    SELECT config,
           n_queries,
           CAST(count(*) AS BIGINT) AS n_cand_pairs,
           CAST(sum(CASE WHEN query_id = ref_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_true_blocked,
           CAST(sum(CASE WHEN query_id = ref_id THEN 1 ELSE 0 END) * 1000000
                // n_queries AS BIGINT) AS recall_ppm,
           CAST(count(*) * 1000000 // n_queries AS BIGINT)
               AS pairs_per_query_ppm
    FROM cfg CROSS JOIN nq
    GROUP BY 1, 2
    """


# Chao1 capture-recapture NDV estimate from a deterministic ~10% row
# sample (md5 buckets 0-25 of 256) vs the exact distinct count — the
# ANALYZE-statistics question at 100 TB: can a cheap sample predict a
# column's cardinality. f1/f2 are exact integers; the bias-corrected
# estimator d + f1(f1-1)/(2(f2+1)) and its ratio to truth are single
# IEEE divisions of exact integers (bit-equal cross-engine).
ORACLES["chao1_ndv_estimate"] = """
    WITH base AS (
        SELECT CAST(l_orderkey AS VARCHAR) || '-'
                   || CAST(l_linenumber AS VARCHAR) AS rk,
               CAST(l_partkey AS BIGINT) AS l_partkey,
               CAST(l_suppkey AS BIGINT) AS l_suppkey,
               CAST(l_orderkey AS BIGINT) AS l_orderkey
        FROM lineitem
    ),
    c AS (
        SELECT rk, col_name, val
        FROM base UNPIVOT (val FOR col_name IN (l_partkey, l_suppkey,
                                                l_orderkey))
    ),
    samp AS (
        SELECT col_name, val FROM c
        WHERE (instr('0123456789abcdef', substr(md5(rk || 'chao1'), 1, 1)) - 1)
                  * 16
              + (instr('0123456789abcdef', substr(md5(rk || 'chao1'), 2, 1))
                  - 1) < 26
    ),
    vc AS (
        SELECT col_name, val, CAST(count(*) AS BIGINT) AS n
        FROM samp GROUP BY 1, 2
    ),
    stats AS (
        SELECT col_name,
               CAST(sum(n) AS BIGINT) AS n_sample_rows,
               CAST(count(*) AS BIGINT) AS d_sample,
               CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
               CAST(sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        FROM vc GROUP BY 1
    ),
    ex AS (
        SELECT col_name, CAST(count(DISTINCT val) AS BIGINT) AS exact_ndv
        FROM c GROUP BY 1
    )
    SELECT s.col_name AS col_name, n_sample_rows, d_sample, f1, f2, exact_ndv,
           CAST(d_sample AS DOUBLE)
               + CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE)
               AS chao1_est,
           (CAST(d_sample AS DOUBLE)
               + CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE))
               / CAST(exact_ndv AS DOUBLE) AS est_ratio
    FROM stats s JOIN ex ON ex.col_name = s.col_name
    """


# k-anonymity generalization ladder: at each coarsening level of the
# quasi-identifier tuple, the share of rows living in groups smaller
# than k (what suppression would destroy) — the utility-vs-privacy
# curve read BEFORE choosing an export schema. Bounded group domains,
# exact integer counts, ppm shares of non-negative integers.
ORACLES["k_anon_generalization_sweep"] = """
    WITH c AS (
        SELECT c_mktsegment AS seg, c_nationkey AS nat,
               CAST(floor(CAST(CAST(round(c_acctbal * 100) AS BIGINT)
                               AS DOUBLE) / 10000.0) AS BIGINT) AS bal_fine,
               CAST(floor(CAST(CAST(round(c_acctbal * 100) AS BIGINT)
                               AS DOUBLE) / 100000.0) AS BIGINT) AS bal_coarse
        FROM customer
    ),
    g0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c GROUP BY seg, nat,
               bal_fine),
    g1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c GROUP BY seg, nat,
               bal_coarse),
    g2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c GROUP BY seg, nat),
    g3 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c GROUP BY seg),
    lv AS (
        SELECT 'L0_seg_nat_bal100' AS level, n FROM g0
        UNION ALL SELECT 'L1_seg_nat_bal1000', n FROM g1
        UNION ALL SELECT 'L2_seg_nat', n FROM g2
        UNION ALL SELECT 'L3_seg', n FROM g3
    ),
    ks AS (SELECT unnest([5, 25]) AS k)
    SELECT level, CAST(k AS BIGINT) AS k,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT)
               AS suppressed_rows,
           CAST(sum(CASE WHEN n < k THEN n ELSE 0 END) * 1000000
                // sum(n) AS BIGINT) AS suppressed_ppm
    FROM lv CROSS JOIN ks
    GROUP BY 1, 2
    """


# --- round 10 (wave 39) -----------------------------------------------------

# OOV rate per source against the top-20 corpus vocabulary: the
# tokenizer-health read (which sources speak outside the vocabulary a
# fixed tokenizer was fitted on). Vocabulary cut is deterministic
# (count DESC, token ASC); counts and ppm are exact integers.
ORACLES["oov_rate_by_source"] = f"""
    WITH toks AS (
        SELECT source, unnest({_TOKS}) AS token FROM documents
    ),
    vocab AS (
        SELECT token FROM (
            SELECT token, count(*) AS c FROM toks GROUP BY 1
            ORDER BY c DESC, token ASC LIMIT 20
        )
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS oov_tokens,
           CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS oov_ppm
    FROM toks t LEFT JOIN vocab v ON v.token = t.token
    GROUP BY 1
    """


# Sampling-temperature sweep (the multilingual mixing knob): language
# weights n^tau for tau in {0.25, 0.5, 1.0}, realized as exact
# integer milli-weights (floor of correctly-rounded sqrt chains —
# bit-equal cross-engine), so shares and boosts are exact integer
# ppm. tau < 1 upsamples the tail exactly as the LLM-training
# literature prescribes; boost_ppm reads the effective multiplier vs
# proportional sampling.
ORACLES["mixture_temperature_sweep"] = """
    WITH g AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents
        GROUP BY 1
    ),
    w AS (
        SELECT '1.0' AS tau, lang, n_docs,
               CAST(n_docs * 1000 AS BIGINT) AS weight_milli FROM g
        UNION ALL
        SELECT '0.5', lang, n_docs,
               CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000.0) AS BIGINT)
        FROM g
        UNION ALL
        SELECT '0.25', lang, n_docs,
               CAST(floor(sqrt(sqrt(CAST(n_docs AS DOUBLE))) * 1000.0)
                    AS BIGINT)
        FROM g
    )
    SELECT tau, lang, n_docs, weight_milli,
           CAST(weight_milli * 1000000
                // sum(weight_milli) OVER (PARTITION BY tau) AS BIGINT)
               AS share_ppm,
           CAST(weight_milli * sum(n_docs) OVER (PARTITION BY tau) * 1000000
                // (sum(weight_milli) OVER (PARTITION BY tau) * n_docs)
                AS BIGINT) AS boost_ppm
    FROM w
    """


# --- round 10 (wave 40) -----------------------------------------------------

# KMV (k-minimum-values) NDV sketch vs exact distinct count: distinct
# values are md5-hashed to 32-bit uniforms; the k-th smallest hash
# estimates NDV as (k-1)/u_k. Deterministic hashing makes the sketch
# bit-identical cross-engine; the estimator is one IEEE division of
# exact integers. Companion of chao1_ndv_estimate: hashing sketch vs
# capture-recapture sampling, same exact-truth yardstick.
ORACLES["kmv_ndv_estimate"] = """
    WITH base AS (
        SELECT CAST(l_partkey AS BIGINT) AS l_partkey,
               CAST(l_suppkey AS BIGINT) AS l_suppkey,
               CAST(l_orderkey AS BIGINT) AS l_orderkey
        FROM lineitem
    ),
    c AS (
        SELECT DISTINCT col_name, val
        FROM base UNPIVOT (val FOR col_name IN (l_partkey, l_suppkey,
                                                l_orderkey))
    ),
    h AS (
        SELECT col_name, val,
               CAST((instr('0123456789abcdef',
                           substr(md5(CAST(val AS VARCHAR) || 'kmv'), 1, 1))
                     - 1) AS BIGINT) * 268435456
               + CAST((instr('0123456789abcdef',
                             substr(md5(CAST(val AS VARCHAR) || 'kmv'), 2, 1))
                       - 1) AS BIGINT) * 16777216
               + CAST((instr('0123456789abcdef',
                             substr(md5(CAST(val AS VARCHAR) || 'kmv'), 3, 1))
                       - 1) AS BIGINT) * 1048576
               + CAST((instr('0123456789abcdef',
                             substr(md5(CAST(val AS VARCHAR) || 'kmv'), 4, 1))
                       - 1) AS BIGINT) * 65536
               + CAST((instr('0123456789abcdef',
                             substr(md5(CAST(val AS VARCHAR) || 'kmv'), 5, 1))
                       - 1) AS BIGINT) * 4096
               + CAST((instr('0123456789abcdef',
                             substr(md5(CAST(val AS VARCHAR) || 'kmv'), 6, 1))
                       - 1) AS BIGINT) * 256
               + CAST((instr('0123456789abcdef',
                             substr(md5(CAST(val AS VARCHAR) || 'kmv'), 7, 1))
                       - 1) AS BIGINT) * 16
               + CAST((instr('0123456789abcdef',
                             substr(md5(CAST(val AS VARCHAR) || 'kmv'), 8, 1))
                       - 1) AS BIGINT) AS h32
        FROM c
    ),
    r AS (
        SELECT col_name, h32,
               row_number() OVER (PARTITION BY col_name
                                  ORDER BY h32 ASC, val ASC) AS rk
        FROM h
    ),
    ex AS (
        SELECT col_name, CAST(count(*) AS BIGINT) AS exact_ndv
        FROM c GROUP BY 1
    )
    SELECT r.col_name AS col_name,
           CAST(64 AS BIGINT) AS k,
           CAST(h32 AS BIGINT) AS kth_hash,
           63.0 * 4294967296.0 / (CAST(h32 AS DOUBLE) + 0.5) AS kmv_est,
           exact_ndv,
           63.0 * 4294967296.0 / (CAST(h32 AS DOUBLE) + 0.5)
               / CAST(exact_ndv AS DOUBLE) AS est_ratio
    FROM r JOIN ex ON ex.col_name = r.col_name
    WHERE rk = 64
    """


# Exact integer covariance screen over globally-scaled int8 codes:
# for every dimension pair i<j, the cross-moment numerator
# N*S_ij - S_i*S_j is an exact BIGINT (codes are small ints), so the
# top-32 most-coupled pairs rank bit-deterministically — the
# whitening/PCA-prep read (which dimensions move together) with zero
# float arithmetic before the final display division.
ORACLES["quantized_covariance_topk"] = f"""
    WITH codes AS (SELECT * FROM '{_AUX_DIR}/cov_codes/*.parquet'),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM codes),
    x AS (
        SELECT d.i AS dim, codes[d.i + 1] AS code, vec_id
        FROM codes, (SELECT unnest(range(0, 64)) AS i) d
    ),
    s AS (
        SELECT dim, CAST(sum(code) AS BIGINT) AS sd FROM x GROUP BY 1
    ),
    p AS (
        SELECT a.dim AS dim_i, b.dim AS dim_j,
               CAST(sum(a.code * b.code) AS BIGINT) AS sij
        FROM x a JOIN x b ON b.vec_id = a.vec_id AND b.dim > a.dim
        GROUP BY 1, 2
    ),
    cv AS (
        SELECT dim_i, dim_j,
               CAST(nv * sij - si.sd * sj.sd AS BIGINT) AS cov_num, nv
        FROM p
        JOIN s si ON si.dim = p.dim_i
        JOIN s sj ON sj.dim = p.dim_j
        CROSS JOIN n
    )
    SELECT dim_i, dim_j, cov_num,
           CAST(cov_num AS DOUBLE) / CAST(nv * nv AS DOUBLE) AS cov_codes
    FROM (
        SELECT dim_i, dim_j, cov_num, nv,
               row_number() OVER (ORDER BY abs(cov_num) DESC,
                                  dim_i ASC, dim_j ASC) AS rk
        FROM cv
    )
    WHERE rk <= 32
    """


# --- round 10 (wave 41) -----------------------------------------------------

# Index-of-dispersion audit for lines-per-order: Poisson arrivals have
# var/mean = 1; the exact integer moments (n, sum x, sum x^2) make the
# dispersion statistic a single IEEE expression over BIGINTs — the
# overdispersion read before modeling order sizes as Poisson.
ORACLES["order_lines_dispersion"] = """
    WITH x AS (
        SELECT l_orderkey, CAST(count(*) AS BIGINT) AS lines
        FROM lineitem GROUP BY 1
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(lines) AS BIGINT) AS sum_lines,
               CAST(sum(lines * lines) AS BIGINT) AS sum_sq_lines
        FROM x
    )
    SELECT n_orders, sum_lines, sum_sq_lines,
           CAST(sum_lines AS DOUBLE) / CAST(n_orders AS DOUBLE) AS mean_lines,
           CAST(n_orders * sum_sq_lines - sum_lines * sum_lines AS DOUBLE)
               / CAST((n_orders - 1) * sum_lines AS DOUBLE) AS dispersion
    FROM m
    """


# Poisson c-chart over hourly event arrivals: control limits
# lambda +- 3*sqrt(lambda) from the exact integer hour census; breach
# flags are integer comparisons of bit-identical doubles. The
# ops-monitoring artifact next to hourly_event_rollup.
ORACLES["poisson_control_chart_hourly"] = """
    WITH h AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1
    ),
    t AS (
        SELECT CAST(sum(n_events) AS BIGINT) AS total_events,
               CAST(count(*) AS BIGINT) AS n_hours
        FROM h
    )
    SELECT hour, n_events,
           CAST(total_events AS DOUBLE) / CAST(n_hours AS DOUBLE) AS lam,
           CAST(total_events AS DOUBLE) / CAST(n_hours AS DOUBLE)
               + 3.0 * sqrt(CAST(total_events AS DOUBLE)
                            / CAST(n_hours AS DOUBLE)) AS ucl,
           CAST(total_events AS DOUBLE) / CAST(n_hours AS DOUBLE)
               - 3.0 * sqrt(CAST(total_events AS DOUBLE)
                            / CAST(n_hours AS DOUBLE)) AS lcl,
           CAST(CASE WHEN CAST(n_events AS DOUBLE)
                          > CAST(total_events AS DOUBLE)
                            / CAST(n_hours AS DOUBLE)
                            + 3.0 * sqrt(CAST(total_events AS DOUBLE)
                                         / CAST(n_hours AS DOUBLE))
                     THEN 1 ELSE 0 END AS BIGINT) AS breach_high,
           CAST(CASE WHEN CAST(n_events AS DOUBLE)
                          < CAST(total_events AS DOUBLE)
                            / CAST(n_hours AS DOUBLE)
                            - 3.0 * sqrt(CAST(total_events AS DOUBLE)
                                         / CAST(n_hours AS DOUBLE))
                     THEN 1 ELSE 0 END AS BIGINT) AS breach_low
    FROM h CROSS JOIN t
    """


# --- round 10 (wave 42) -----------------------------------------------------

# 4-4-5 fiscal calendar rollup: continuous 52-week fiscal years from a
# fixed Monday epoch, quarters of 13 weeks split 4+4+5 — the retail
# close calendar. Every mapping is integer div/mod on day offsets
# (non-negative), so both engines agree on every period boundary; no
# 53rd-week correction (documented drift, as real 52-week calendars
# accept between restatements).
ORACLES["fiscal_445_rollup"] = """
    WITH d AS (
        SELECT datediff('day', DATE '1995-01-02',
                        CAST(l_shipdate AS DATE)) AS doff,
               CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT) AS cents
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-02'
    ),
    m AS (
        SELECT (doff // 7) // 52 AS fy,
               ((doff // 7) % 52) // 13 AS fq,
               ((doff // 7) % 52) % 13 AS wq,
               cents
        FROM d
    )
    SELECT CAST(1995 + fy AS BIGINT) AS fiscal_year,
           CAST(fq * 3 + CASE WHEN wq < 4 THEN 1 WHEN wq < 8 THEN 2
                              ELSE 3 END AS BIGINT) AS fiscal_period,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM m GROUP BY 1, 2
    """


# DP clipping-bound sweep for a per-user SUM release: the clip C sets
# BOTH the bias (mass clipped away, exact ppm) and the Laplace noise
# scale (C*sqrt(2)/eps) — the bias-variance knob a DP engineer reads
# before releasing. Census exact integers; noise/SNR shared-text IEEE.
ORACLES["dp_clip_bound_sweep"] = """
    WITH u AS (
        SELECT user_id, CAST(round(sum(value) * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    cs AS (SELECT unnest([5000, 20000, 80000]) AS clip_c),
    g AS (
        SELECT CAST(clip_c AS BIGINT) AS clip_c,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(cents) AS BIGINT) AS true_sum_cents,
               CAST(sum(least(cents, clip_c)) AS BIGINT) AS clipped_sum_cents,
               CAST(sum(CASE WHEN cents > clip_c THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_clipped_users
        FROM u CROSS JOIN cs
        GROUP BY clip_c
    )
    SELECT clip_c, n_users, true_sum_cents, clipped_sum_cents,
           n_clipped_users,
           CAST((true_sum_cents - clipped_sum_cents) * 1000000
                // true_sum_cents AS BIGINT) AS clip_loss_ppm,
           CAST(clip_c AS DOUBLE) * sqrt(2.0) / 1.0 AS noise_std,
           CAST(clipped_sum_cents AS DOUBLE)
               / (CAST(clip_c AS DOUBLE) * sqrt(2.0) / 1.0)
               AS signal_to_noise
    FROM g
    """


# Weekly net revenue retention: the SaaS expansion/churn read — the
# cohort active in week w re-measured in week w+1, revenue-weighted.
# Exact integer cents; one lead() window per user, never a self-join.
ORACLES["net_revenue_retention"] = """
    WITH uw AS (
        SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
               CAST(round(sum(value) * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    mx AS (SELECT max(week) AS maxw FROM uw),
    j AS (
        SELECT cur.week, cur.cents,
               COALESCE(nxt.cents, 0) AS next_cents
        FROM uw cur
        CROSS JOIN mx
        LEFT JOIN uw nxt ON nxt.user_id = cur.user_id
                        AND nxt.week = cur.week + INTERVAL 7 DAY
        WHERE cur.week < mx.maxw
    )
    SELECT week,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(cents) AS BIGINT) AS cohort_rev_cents,
           CAST(sum(next_cents) AS BIGINT) AS next_week_rev_cents,
           CAST(sum(next_cents) * 1000000 // sum(cents) AS BIGINT)
               AS nrr_ppm
    FROM j GROUP BY 1
    """


# --- round 10 (wave 43) -----------------------------------------------------

# Multi-level BOM cost rollup WITHOUT recursion: the part hierarchy is
# parent = key div 10, so every key's ancestor set is its div-10^j
# chain — exploding each part into <= 6 ancestors turns the recursive
# rollup into ONE map-side explode + ONE hash aggregate (the
# materialized-path trick that scales where recursive CTEs cannot).
# Exact BIGINT cents; self counts as its own descendant.
ORACLES["bom_cost_rollup"] = """
    WITH p AS (
        SELECT CAST(p_partkey AS BIGINT) AS k,
               CAST(round(p_retailprice * 100) AS BIGINT) AS cents
        FROM part
    ),
    anc AS (
        SELECT k // CAST(power(10, j.j) AS BIGINT) AS node, k, cents
        FROM p, (SELECT unnest(range(0, 6)) AS j) j
        WHERE k // CAST(power(10, j.j) AS BIGINT) > 0 OR (k = 0 AND j.j = 0)
    )
    SELECT node,
           CAST(count(*) AS BIGINT) AS n_descendants,
           CAST(sum(cents) AS BIGINT) AS rollup_cents
    FROM anc GROUP BY 1
    """


# Cheapest-supplier-per-part mart (the TPC-H Q2 question answered from
# lineitem observations — the fixture has no partsupp): per (part,
# supplier) the exact VWAP unit price in integer cents, then the
# argmin supplier per part with deterministic tiebreak. Bounded
# window over per-part supplier lists, never a global sort.
ORACLES["cheapest_supplier_per_part"] = """
    WITH ps AS (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    // sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                   AS unit_cents,
               CAST(count(*) AS BIGINT) AS n_obs
        FROM lineitem
        GROUP BY 1, 2
    )
    SELECT partkey, suppkey AS best_suppkey, unit_cents, n_obs,
           n_suppliers
    FROM (
        SELECT partkey, suppkey, unit_cents, n_obs,
               CAST(count(*) OVER (PARTITION BY partkey) AS BIGINT)
                   AS n_suppliers,
               row_number() OVER (PARTITION BY partkey
                                  ORDER BY unit_cents ASC, suppkey ASC)
                   AS rk
        FROM ps
    )
    WHERE rk = 1
    """


# T5-style span-corruption plan: deterministic mask spans (length 3,
# md5-seeded starts, ~15% target ratio) per document — the data-prep
# op before span-denoising training, as a PLAN (counts, not rewritten
# text). All integer arithmetic on token counts; the md5 start offset
# is the house deterministic-uniform idiom.
ORACLES["span_corruption_plan"] = f"""
    WITH t AS (
        SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    m AS (
        SELECT doc_id, n_tokens,
               CAST(n_tokens * 15 // 100 // 3 AS BIGINT) AS n_spans
        FROM t
    )
    SELECT doc_id, n_tokens, n_spans,
           CAST(n_spans * 3 AS BIGINT) AS n_masked,
           CAST(CASE WHEN n_tokens > 0
                     THEN n_spans * 3 * 1000000 // n_tokens
                     ELSE 0 END AS BIGINT) AS mask_ppm,
           CAST(CASE WHEN n_spans > 0 THEN
                (instr('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR) || 'span'), 1, 1))
                 - 1) * 16
                + (instr('0123456789abcdef',
                         substr(md5(CAST(doc_id AS VARCHAR) || 'span'), 2, 1))
                   - 1)
                ELSE 0 END
                % CASE WHEN n_tokens - n_spans * 3 + 1 > 0
                       THEN n_tokens - n_spans * 3 + 1 ELSE 1 END
                AS BIGINT) AS first_span_start
    FROM m
    """


# --- round 10 (wave 44) -----------------------------------------------------

# Q11-spirit supplier concentration: each supplier's revenue share
# within its nation in exact ppm, flagged over a 5% threshold — the
# single-source-risk screen a sourcing office runs; bounded window
# over per-nation supplier lists.
ORACLES["supplier_value_concentration"] = """
    WITH sr AS (
        SELECT s.s_nationkey AS nationkey, l.l_suppkey AS suppkey,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        GROUP BY 1, 2
    )
    SELECT n.n_name AS nation, suppkey, rev_cents,
           CAST(rev_cents * 1000000
                // sum(rev_cents) OVER (PARTITION BY nationkey) AS BIGINT)
               AS share_ppm,
           CAST(CASE WHEN rev_cents * 1000000
                          // sum(rev_cents) OVER (PARTITION BY nationkey)
                          > 50000 THEN 1 ELSE 0 END AS BIGINT)
               AS concentration_flag
    FROM sr JOIN nation n ON n.n_nationkey = sr.nationkey
    """


# GDPR right-of-access extract census: for a deterministic data-
# subject set (custkey % 97 == 0, mirroring the delete-cascade
# convention), the per-table footprint an access request must export.
# Key-equi-joins only; exact integer counts.
ORACLES["gdpr_access_extract_counts"] = """
    WITH subj AS (
        SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ),
    o AS (
        SELECT o_custkey, o_orderkey FROM orders
        JOIN subj ON c_custkey = o_custkey
    )
    SELECT c_custkey AS custkey,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           CAST(count(l.l_orderkey) AS BIGINT) AS n_lineitems,
           CAST(sum(CASE WHEN l.l_orderkey IS NOT NULL
                         THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS gross_cents
    FROM subj
    LEFT JOIN o ON o.o_custkey = c_custkey
    LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """


# --- round 10 (wave 45) -----------------------------------------------------

# Cochran-Armitage trend test: does return probability TREND with the
# discount level (ordered doses 0..10 cents-of-discount)? All moment
# sums are exact BIGINTs; the z statistic multiplies them as doubles
# in shared text (each product correctly rounded, bit-equal), so the
# only float anywhere is the final statistic. Complements
# chi_square_event_dow (independence) with the ORDERED alternative.
ORACLES["cochran_armitage_trend"] = """
    WITH d AS (
        SELECT CAST(round(l_discount * 100) AS BIGINT) AS s,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r
        FROM lineitem
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(r) AS BIGINT) AS rr,
               CAST(sum(s * r) AS BIGINT) AS ssr,
               CAST(sum(s) AS BIGINT) AS ssn,
               CAST(sum(s * s) AS BIGINT) AS ssn2
        FROM d
    )
    SELECT n, rr AS n_returned, ssr AS sum_score_returned,
           ssn AS sum_score, ssn2 AS sum_score_sq,
           (CAST(n AS DOUBLE) * CAST(ssr AS DOUBLE)
            - CAST(rr AS DOUBLE) * CAST(ssn AS DOUBLE))
           / sqrt(CAST(rr AS DOUBLE) * CAST(n - rr AS DOUBLE)
                  * (CAST(n AS DOUBLE) * CAST(ssn2 AS DOUBLE)
                     - CAST(ssn AS DOUBLE) * CAST(ssn AS DOUBLE))
                  / CAST(n AS DOUBLE)) AS z_trend
    FROM m
    """


# Temporal-split contamination audit: with the last 7 days held out as
# test, how many users straddle the cutoff (user-level leakage a
# time-based split silently permits). Exact integer census; the
# cutoff derives from the global max timestamp (1-row broadcast).
ORACLES["temporal_split_audit"] = """
    WITH mx AS (SELECT max(ts) AS maxts FROM events),
    u AS (
        SELECT user_id,
               CAST(sum(CASE WHEN ts < maxts - INTERVAL 7 DAY
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
               CAST(sum(CASE WHEN ts >= maxts - INTERVAL 7 DAY
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_test
        FROM events CROSS JOIN mx
        GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN n_train > 0 AND n_test = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS train_only_users,
           CAST(sum(CASE WHEN n_train = 0 AND n_test > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS test_only_users,
           CAST(sum(CASE WHEN n_train > 0 AND n_test > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS straddling_users,
           CAST(sum(CASE WHEN n_train > 0 AND n_test > 0 THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS leak_ppm,
           CAST(sum(n_train) AS BIGINT) AS train_events,
           CAST(sum(n_test) AS BIGINT) AS test_events
    FROM u
    """


# Cross-table freshness audit: per fact table, row count, max event
# time, and staleness in whole days against the freshest table — the
# data-ops read before trusting a join across pipelines that load on
# different cadences. Exact integers; 1-row reference broadcast.
ORACLES["table_freshness_audit"] = """
    WITH t AS (
        SELECT 'orders' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
               max(CAST(o_orderdate AS TIMESTAMP)) AS max_ts FROM orders
        UNION ALL
        SELECT 'lineitem', CAST(count(*) AS BIGINT),
               max(CAST(l_shipdate AS TIMESTAMP)) FROM lineitem
        UNION ALL
        SELECT 'events', CAST(count(*) AS BIGINT),
               max(CAST(ts AS TIMESTAMP)) FROM events
    ),
    r AS (SELECT max(max_ts) AS ref_ts FROM t)
    SELECT table_name, n_rows, max_ts,
           CAST(datediff('day', CAST(max_ts AS DATE), CAST(ref_ts AS DATE))
                AS BIGINT) AS staleness_days
    FROM t CROSS JOIN r
    """


# --- round 10 (wave 46) -----------------------------------------------------

# Referential-integrity orphan census: per foreign key, how many child
# rows reference a missing parent — dbt's relationships test as a
# queryable mart (counts + exact ppm), not a pass/fail assertion.
ORACLES["referential_orphan_census"] = """
    WITH fks AS (
        SELECT 'lineitem.l_orderkey->orders' AS fk,
               CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
               CAST((SELECT count(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_orderkey = l.l_orderkey))
                    AS BIGINT) AS n_orphans
        UNION ALL
        SELECT 'lineitem.l_partkey->part',
               CAST((SELECT count(*) FROM lineitem) AS BIGINT),
               CAST((SELECT count(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM part p
                                       WHERE p.p_partkey = l.l_partkey))
                    AS BIGINT)
        UNION ALL
        SELECT 'lineitem.l_suppkey->supplier',
               CAST((SELECT count(*) FROM lineitem) AS BIGINT),
               CAST((SELECT count(*) FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                       WHERE s.s_suppkey = l.l_suppkey))
                    AS BIGINT)
        UNION ALL
        SELECT 'orders.o_custkey->customer',
               CAST((SELECT count(*) FROM orders) AS BIGINT),
               CAST((SELECT count(*) FROM orders o
                     WHERE NOT EXISTS (SELECT 1 FROM customer c
                                       WHERE c.c_custkey = o.o_custkey))
                    AS BIGINT)
    )
    SELECT fk, n_child, n_orphans,
           CAST(n_orphans * 1000000 // n_child AS BIGINT) AS orphan_ppm
    FROM fks
    """


# Intra-list similarity eval: did MMR actually diversify? Average
# pairwise 6dp cosine (as exact micro ints) within each query's
# selected 5-list, for the plain cosine top-5 vs the MMR top-5. The
# selections and pair sims are persisted aux tables (the house
# pattern), so both engines score identical lists; the mean is one
# IEEE division of exact integers.
ORACLES["ils_diversity_eval"] = f"""
    WITH sel AS (SELECT * FROM '{_AUX_DIR}/ils_selected/*.parquet'),
    ps AS (SELECT * FROM '{_AUX_DIR}/ils_pairsims/*.parquet'),
    p AS (
        SELECT a.query_id, a.method, ps.sim_micro
        FROM sel a
        JOIN sel b ON b.query_id = a.query_id AND b.method = a.method
                  AND b.doc_id > a.doc_id
        JOIN ps ON ps.query_id = a.query_id AND ps.id_a = a.doc_id
               AND ps.id_b = b.doc_id
    )
    SELECT query_id, method,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(sim_micro) AS BIGINT) AS sum_sim_micro,
           CAST(sum(sim_micro) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS ils_mean_micro
    FROM p GROUP BY 1, 2
    """


# --- round 10 (wave 47) -----------------------------------------------------

# Bloom FPR sweep: the same member/probe sets pushed through three
# filter sizes — measured FPR next to the fill-ratio theory
# (bits_set/m)^k, the sizing curve read before provisioning a
# semi-join pre-filter at 100 TB. Composes operators.membership's
# oracle builder per config; exact integer confusion everywhere.
_BLOOM_MEM = ("SELECT DISTINCT o_custkey AS k FROM orders"
              " WHERE o_orderpriority = '1-URGENT'")
_BLOOM_PRB = "SELECT c_custkey AS k FROM customer"
def _bloom_fpr_cfg_sql(m_bits: int) -> str:
    """One sweep config: the membership-oracle block parameterized by
    filter size (the 12-nibble md5 hash expansion appears once here
    instead of six machine-expanded copies — ADVICE r10; generated SQL
    verified character-identical to the previous inline literal)."""
    hashes = []
    for lo in (1, 5, 9):
        e = "0"
        for i in range(lo, lo + 4):
            e = (f"({e} * 16 + instr('0123456789abcdef', "
                 f"substr(md5(CAST(k AS VARCHAR) || 'bfs'), {i}, 1)) - 1)")
        hashes.append(f"(CAST({e} AS BIGINT) % {m_bits})")
    h = ", ".join(hashes)
    raw_fpr = (
        "CAST(sum(CASE WHEN bp = 1 AND is_m = 0 THEN 1 ELSE 0 END) AS DOUBLE)"
        " / nullif(CAST(count(*) - sum(is_m) AS DOUBLE), 0.0)"
    )
    return f"""
    WITH mem AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'),
    probes AS (SELECT c_custkey AS k FROM customer),
    bits AS (SELECT DISTINCT unnest([{h}]) AS pos FROM mem),
    pp AS (SELECT k, unnest([{h}]) AS pos
           FROM (SELECT DISTINCT k FROM probes)),
    hits AS (SELECT pp.k, count(*) AS h
             FROM pp JOIN bits USING (pos) GROUP BY 1),
    flag AS (
        SELECT p.k,
               CASE WHEN coalesce(h, 0) = 3 THEN 1 ELSE 0 END AS bp,
               CASE WHEN mm.k IS NOT NULL THEN 1 ELSE 0 END AS is_m
        FROM probes p
        LEFT JOIN hits ON p.k = hits.k
        LEFT JOIN (SELECT DISTINCT k FROM mem) mm ON p.k = mm.k
    )
    SELECT CAST({m_bits} AS INT) AS m_bits, CAST(3 AS INT) AS k_hashes,
           (SELECT CAST(count(*) AS BIGINT) FROM mem) AS n_members,
           (SELECT CAST(count(*) AS BIGINT) FROM bits) AS bits_set,
           CAST(count(*) AS BIGINT) AS n_probed,
           CAST(sum(bp) AS BIGINT) AS n_positive,
           CAST(sum(CASE WHEN bp = 1 AND is_m = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positive,
           {_dr_top(raw_fpr, 6)}
               AS fpr
    FROM flag
    """


_BLOOM_HEAD = """
    SELECT m_bits, k_hashes, n_members, bits_set, n_probed, n_positive,
               n_false_positive, fpr,
               (CAST(bits_set AS DOUBLE) / CAST(m_bits AS DOUBLE))
               * (CAST(bits_set AS DOUBLE) / CAST(m_bits AS DOUBLE))
               * (CAST(bits_set AS DOUBLE) / CAST(m_bits AS DOUBLE)) AS fpr_theory
        FROM ("""
ORACLES["bloom_fpr_sweep"] = "\n    UNION ALL".join(
    _BLOOM_HEAD + _bloom_fpr_cfg_sql(m) + ")" for m in (1024, 4096, 16384)
) + "\n    "


# Cross-source exact-duplicate census: fingerprint groups of size >= 2
# bucketed by (group size, spans-multiple-sources) — same-source dups
# are re-ingestion noise, CROSS-source dups are templated/syndicated
# content (the screen doc_fingerprints sets up). Exact integers over
# a bounded (size x 2) domain.
ORACLES["cross_source_duplicate_census"] = """
    WITH f AS (
        SELECT doc_id, source,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
        FROM documents
    ),
    g AS (
        SELECT fp, CAST(count(*) AS BIGINT) AS group_size,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        FROM f GROUP BY 1
        HAVING count(*) >= 2
    )
    SELECT group_size,
           CAST(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END AS BIGINT)
               AS cross_source,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(group_size) AS BIGINT) AS n_docs
    FROM g GROUP BY 1, 2
    """


# --- round 10 (wave 48) -----------------------------------------------------

# Hubness audit over the LSH-candidate kNN graph: the in-degree
# histogram of top-10 membership — hub vectors (huge in-degree) and
# antihubs (zero) are the high-dimensional pathology that skews ANN
# result quality. Candidates, ranks and degrees re-derived by both
# engines from the same persisted bucket table; exact integers only.
ORACLES["knn_hubness_audit"] = f"""
    WITH b AS (SELECT * FROM '{_AUX_DIR}/hub_buckets/*.parquet'),
    cand AS (
        SELECT DISTINCT b1.id AS src, b2.id AS dst
        FROM b b1 JOIN b b2 ON b1.tbl = b2.tbl AND b1.bucket = b2.bucket
        WHERE b1.id <> b2.id
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (
        SELECT src, dst,
               {_dr_top("list_dot_product(se.v, de.v) / nullif(sqrt(list_dot_product(se.v, se.v)) * sqrt(list_dot_product(de.v, de.v)), 0)", 6)} AS score
        FROM cand JOIN e se ON se.vec_id = cand.src
                  JOIN e de ON de.vec_id = cand.dst
    ),
    tk AS (
        SELECT src, dst FROM (
            SELECT src, dst, row_number() OVER (
                PARTITION BY src ORDER BY score DESC, dst ASC) AS rank
            FROM s
        ) WHERE rank <= 10
    ),
    deg AS (
        SELECT e.vec_id, CAST(coalesce(d.indeg, 0) AS BIGINT) AS in_degree
        FROM e LEFT JOIN (
            SELECT dst, count(*) AS indeg FROM tk GROUP BY 1
        ) d ON d.dst = e.vec_id
    )
    SELECT in_degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY 1
    """


# RLE savings audit: run counts per column inside 1024-key blocks —
# low-cardinality columns (status, priority) collapse to a few runs
# per block while a key column degenerates to one run per row; bytes
# modeled as runs * (8 value + 4 length) vs 8/row plain. All integer.
ORACLES["rle_encoding_savings"] = """
    WITH base AS (
        SELECT o_orderkey AS k,
               o_orderstatus AS v_status,
               o_orderpriority AS v_priority,
               CAST(o_custkey AS VARCHAR) AS v_cust
        FROM orders
    ),
    c AS (
        SELECT k, col_name, val
        FROM base UNPIVOT (val FOR col_name IN (v_status, v_priority, v_cust))
    ),
    d AS (
        SELECT col_name, k // 1024 AS block, val,
               CASE WHEN val IS DISTINCT FROM
                         lag(val) OVER (PARTITION BY col_name, k // 1024
                                        ORDER BY k)
                    THEN 1 ELSE 0 END AS new_run
        FROM c
    ),
    bl AS (
        SELECT col_name, block, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(new_run) AS BIGINT) AS n_runs
        FROM d GROUP BY 1, 2
    )
    SELECT col_name,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(sum(n_runs) AS BIGINT) AS n_runs,
           CAST(sum(n) * 8 AS BIGINT) AS plain_bytes,
           CAST(sum(n_runs) * 12 AS BIGINT) AS rle_bytes,
           CAST(sum(n_runs) * 12 * 1000000 // (sum(n) * 8) AS BIGINT)
               AS ratio_ppm
    FROM bl GROUP BY 1
    """


# --- round 10 (wave 49) -----------------------------------------------------

# Semantic-layer metric evaluation: ONE metric definition (revenue,
# orders, AOV = revenue/orders) evaluated at three grains from the
# same fact — the dbt-metrics/metric-layer promise as a query. Exact
# BIGINT cents; AOV is an integer division of non-negatives.
ORACLES["metric_layer_rollup"] = """
    WITH f AS (
        SELECT o.o_orderkey, o.o_orderdate, c.c_mktsegment, n.n_name,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    g AS (
        SELECT 'month' AS grain,
               CAST(CAST(date_trunc('month', o_orderdate) AS DATE)
                    AS VARCHAR) AS grain_key,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS revenue_cents
        FROM f GROUP BY 2
        UNION ALL
        SELECT 'nation', n_name, CAST(count(*) AS BIGINT),
               CAST(sum(cents) AS BIGINT)
        FROM f GROUP BY 2
        UNION ALL
        SELECT 'segment', c_mktsegment, CAST(count(*) AS BIGINT),
               CAST(sum(cents) AS BIGINT)
        FROM f GROUP BY 2
    )
    SELECT grain, grain_key, n_orders, revenue_cents,
           CAST(revenue_cents // n_orders AS BIGINT) AS aov_cents
    FROM g
    """


# Exact isotropy audit over globally-scaled int8 codes: the mean
# pairwise dot product over ALL n(n-1) ordered pairs has the closed
# form (|sum x|^2 - sum |x|^2) / (n(n-1)) — both moments are exact
# BIGINTs, so the all-pairs geometry statistic costs ONE pass and no
# pair join at any scale. Anisotropic (common-direction) embeddings
# show a large positive mean; isotropic ones sit near zero.
ORACLES["quantized_isotropy_audit"] = f"""
    WITH codes AS (SELECT * FROM '{_AUX_DIR}/iso_codes/*.parquet'),
    x AS (
        SELECT vec_id, d.i AS dim, codes[d.i + 1] AS code
        FROM codes, (SELECT unnest(range(0, 64)) AS i) d
    ),
    s AS (
        SELECT dim, CAST(sum(code) AS BIGINT) AS sd FROM x GROUP BY 1
    ),
    q AS (
        SELECT CAST(sum(code * code) AS BIGINT) AS sum_sq FROM x
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM codes),
    t AS (SELECT CAST(sum(sd * sd) AS BIGINT) AS norm_sum_sq FROM s)
    SELECT nv AS n_vecs,
           norm_sum_sq AS centroid_norm_sq,
           sum_sq AS total_self_dot,
           CAST(norm_sum_sq - sum_sq AS BIGINT) AS pair_dot_num,
           CAST(nv * (nv - 1) AS BIGINT) AS pair_dot_den,
           CAST(norm_sum_sq - sum_sq AS DOUBLE)
               / CAST(nv * (nv - 1) AS DOUBLE) AS mean_pair_dot
    FROM n CROSS JOIN q CROSS JOIN t
    """


# Ratio-to-parent drilldown: nation revenue as a share of its region,
# region as a share of the world — the BI drill tree with exact ppm
# at every level; bounded dims broadcast, one fact aggregation.
ORACLES["percent_of_parent_drilldown"] = """
    WITH f AS (
        SELECT n.n_name AS nation, r.r_name AS region,
               CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT) AS cents
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
    ),
    nat AS (
        SELECT region, nation, CAST(sum(cents) AS BIGINT) AS rev
        FROM f GROUP BY 1, 2
    ),
    reg AS (
        SELECT region, CAST(sum(rev) AS BIGINT) AS reg_rev FROM nat GROUP BY 1
    ),
    w AS (SELECT CAST(sum(reg_rev) AS BIGINT) AS world_rev FROM reg)
    SELECT nat.region, nation, rev AS revenue_cents,
           reg_rev AS parent_cents,
           CAST(rev * 1000000 // reg_rev AS BIGINT) AS share_of_region_ppm,
           CAST(reg_rev * 1000000 // world_rev AS BIGINT)
               AS region_share_of_world_ppm
    FROM nat JOIN reg ON reg.region = nat.region CROSS JOIN w
    """


# --- round 10 (wave 50) -----------------------------------------------------

# Quantity-weighted median unit price per brand: exact weighted order
# statistic — cumulative quantity along the deterministic
# (unit_cents, orderkey, linenumber) order crosses half the brand's
# total quantity. No approx_percentile, no float output; the window
# partitions by brand (bounded per-group fanout).
ORACLES["weighted_median_unit_price"] = """
    WITH l AS (
        SELECT p.p_brand AS brand,
               CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   // CAST(l.l_quantity AS BIGINT) AS unit_cents,
               CAST(l.l_quantity AS BIGINT) AS qty,
               l.l_orderkey, l.l_linenumber
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    c AS (
        SELECT brand, unit_cents, qty,
               sum(qty) OVER (PARTITION BY brand
                              ORDER BY unit_cents, l_orderkey, l_linenumber
                              ROWS UNBOUNDED PRECEDING) AS cumqty,
               sum(qty) OVER (PARTITION BY brand) AS total_qty
        FROM l
    )
    SELECT brand,
           CAST(total_qty AS BIGINT) AS total_qty,
           CAST(min(unit_cents) AS BIGINT) AS weighted_median_unit_cents
    FROM c
    WHERE cumqty >= (total_qty + 1) // 2
    GROUP BY brand, total_qty
    """


# Per-source lexical richness: type and hapax censuses within each
# source — a source whose hapax share collapses is templated; one
# whose type-token ratio explodes is noise. Exact integers.
ORACLES["hapax_ratio_by_source"] = f"""
    WITH toks AS (
        SELECT source, unnest({_TOKS}) AS token FROM documents
    ),
    tf AS (
        SELECT source, token, CAST(count(*) AS BIGINT) AS n
        FROM toks GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(count(*) * 1000000 // sum(n) AS BIGINT) AS type_token_ppm,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
                AS BIGINT) AS hapax_ppm
    FROM tf GROUP BY 1
    """


# Shuffle-partition capacity planner: exact byte footprint per fact
# table (fixed widths for fixed-width types + measured string bytes),
# partitions at a 128 MiB target, rows per partition — the
# spark.sql.shuffle.partitions sizing table computed FROM the data
# instead of guessed. All integer arithmetic.
ORACLES["shuffle_partition_planner"] = """
    WITH t AS (
        SELECT 'orders' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) * 36
                    + sum(len(o_orderstatus) + len(o_orderpriority))
                    AS BIGINT) AS est_bytes
        FROM orders
        UNION ALL
        SELECT 'lineitem', CAST(count(*) AS BIGINT),
               CAST(count(*) * 60 + sum(len(l_returnflag) + len(l_linestatus))
                    AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'events', CAST(count(*) AS BIGINT),
               CAST(count(*) * 36 + sum(len(event_type) + len(props))
                    AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'documents', CAST(count(*) AS BIGINT),
               CAST(count(*) * 16
                    + sum(len(text) + len(lang) + len(source)) AS BIGINT)
        FROM documents
    )
    SELECT table_name, n_rows, est_bytes,
           CAST((est_bytes + 134217727) // 134217728 AS BIGINT)
               AS partitions_128mb,
           CAST(n_rows // ((est_bytes + 134217727) // 134217728) AS BIGINT)
               AS rows_per_partition
    FROM t
    """


# --- round 10 (wave 51) -----------------------------------------------------

# Resample-consistency audit: hourly OHLC bars re-aggregated to daily
# must equal the directly-computed daily bars — the conservation law
# any multi-granularity bar store must satisfy (open = first hour's
# open, close = last hour's close, high/low = extrema). Exact integer
# cents; match flags are integer comparisons.
ORACLES["ohlc_resample_consistency"] = """
    WITH e AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               date_trunc('hour', ts) AS hr, ts, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
    ),
    rh AS (
        SELECT *,
               row_number() OVER (PARTITION BY event_type, day, hr
                                  ORDER BY ts, event_id) AS ra,
               row_number() OVER (PARTITION BY event_type, day, hr
                                  ORDER BY ts DESC, event_id DESC) AS rd
        FROM e
    ),
    hb AS (
        SELECT event_type, day, hr,
               max(CASE WHEN ra = 1 THEN cents END) AS o,
               max(cents) AS h, min(cents) AS l,
               max(CASE WHEN rd = 1 THEN cents END) AS c,
               CAST(count(*) AS BIGINT) AS n
        FROM rh GROUP BY 1, 2, 3
    ),
    up AS (
        SELECT event_type, day,
               CAST(min_by(o, hr) AS BIGINT) AS open_up,
               CAST(max(h) AS BIGINT) AS high_up,
               CAST(min(l) AS BIGINT) AS low_up,
               CAST(max_by(c, hr) AS BIGINT) AS close_up,
               CAST(sum(n) AS BIGINT) AS n_up
        FROM hb GROUP BY 1, 2
    ),
    rdw AS (
        SELECT *,
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY ts, event_id) AS ra,
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY ts DESC, event_id DESC) AS rd
        FROM e
    ),
    dd AS (
        SELECT event_type, day,
               CAST(max(CASE WHEN ra = 1 THEN cents END) AS BIGINT) AS open_d,
               CAST(max(cents) AS BIGINT) AS high_d,
               CAST(min(cents) AS BIGINT) AS low_d,
               CAST(max(CASE WHEN rd = 1 THEN cents END) AS BIGINT) AS close_d,
               CAST(count(*) AS BIGINT) AS n_d
        FROM rdw GROUP BY 1, 2
    )
    SELECT up.event_type AS event_type, up.day AS day,
           open_up, high_up, low_up, close_up, n_up,
           CAST(CASE WHEN open_up = open_d AND high_up = high_d
                      AND low_up = low_d AND close_up = close_d
                      AND n_up = n_d
                THEN 1 ELSE 0 END AS BIGINT) AS consistent
    FROM up JOIN dd ON dd.event_type = up.event_type AND dd.day = up.day
    """


# Attribution-window sweep: purchases with >= 1 preceding view within
# 1h / 6h / 24h, plus total view credits per window — the
# marketing-analytics knob (too short starves attribution, too long
# over-credits) measured instead of argued. Bucketed range joins per
# window; exact integer census.
ORACLES["attribution_window_sweep"] = """
    WITH p AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'purchase'
    ),
    v AS (
        SELECT user_id, ts AS vts FROM events WHERE event_type = 'view'
    ),
    np AS (SELECT CAST(count(*) AS BIGINT) AS n_purchases FROM p),
    sw AS (SELECT unnest([1, 6, 24]) AS win_hours),
    j AS (
        SELECT sw.win_hours, p.event_id,
               CAST(count(v.vts) AS BIGINT) AS n_views
        FROM sw
        CROSS JOIN p
        LEFT JOIN v ON v.user_id = p.user_id
                   AND v.vts >= p.ts - win_hours * INTERVAL 1 HOUR
                   AND v.vts < p.ts
        GROUP BY 1, 2
    )
    SELECT CAST(win_hours AS BIGINT) AS win_hours,
           n_purchases,
           CAST(sum(CASE WHEN n_views > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS attributed_purchases,
           CAST(sum(n_views) AS BIGINT) AS total_view_credits,
           CAST(sum(CASE WHEN n_views > 0 THEN 1 ELSE 0 END) * 1000000
                // n_purchases AS BIGINT) AS coverage_ppm
    FROM j CROSS JOIN np
    GROUP BY 1, 2
    """


# Q16-spirit supplier variety: distinct suppliers observed per
# (brand, type) with a deterministic exclusion set (suppkey % 13 = 0
# standing in for complaint-flagged suppliers) — the sourcing-breadth
# question answered from lineitem observations (no partsupp in the
# fixture). Exact integers.
ORACLES["q16_supplier_variety"] = """
    SELECT p.p_brand AS brand, p.p_type AS ptype,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_suppkey % 13 <> 0
    GROUP BY 1, 2
    """


# --- round 10 (wave 52) -----------------------------------------------------

# LSH bucket-uniformity audit: occupancy census per hash table plus a
# chi-square GOF statistic against the uniform expectation — a skewed
# hyperplane table concentrates candidates and silently degrades to a
# hot-bucket scan. Moments exact BIGINTs; chi2 is shared-text IEEE.
ORACLES["lsh_bucket_uniformity"] = f"""
    WITH b AS (SELECT * FROM '{_AUX_DIR}/unif_buckets/*.parquet'),
    occ AS (
        SELECT tbl, bucket, CAST(count(*) AS BIGINT) AS n
        FROM b GROUP BY 1, 2
    ),
    m AS (
        SELECT tbl,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(n) AS BIGINT) AS n_vecs,
               CAST(max(n) AS BIGINT) AS max_bucket,
               CAST(sum(n * n) AS BIGINT) AS sum_sq
        FROM occ GROUP BY 1
    )
    SELECT tbl, n_buckets, n_vecs, max_bucket,
           CAST(max_bucket * 16 * 1000000 // n_vecs AS BIGINT)
               AS max_over_expected_ppm,
           CAST(16.0 AS DOUBLE) * CAST(sum_sq AS DOUBLE)
               / CAST(n_vecs AS DOUBLE) - CAST(n_vecs AS DOUBLE)
               AS chi2_uniform
    FROM m
    """


# Cut-off risk census: per order month, line items shipped in the
# same month vs a later one — the accrual-cutoff exposure an auditor
# samples around every period end. Exact integer counts and ppm.
ORACLES["cutoff_risk_census"] = """
    WITH j AS (
        SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS order_month,
               CASE WHEN date_trunc('month', l.l_shipdate)
                         = date_trunc('month', o.o_orderdate)
                    THEN 1 ELSE 0 END AS same_month
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT order_month,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(same_month) AS BIGINT) AS same_month_lines,
           CAST(count(*) - sum(same_month) AS BIGINT) AS later_month_lines,
           CAST((count(*) - sum(same_month)) * 1000000 // count(*)
                AS BIGINT) AS crossing_ppm
    FROM j GROUP BY 1
    """


# Accepted-values census: per enum-like column, rows inside/outside
# the declared domain — dbt's accepted_values test as a queryable
# mart (a clean fixture reads zero unexpected; the mart exists for
# the load that breaks it). Exact integers.
ORACLES["accepted_values_census"] = """
    WITH t AS (
        SELECT 'orders.o_orderstatus' AS col_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN o_orderstatus IN ('F', 'O', 'P')
                             THEN 0 ELSE 1 END) AS BIGINT) AS n_unexpected,
               CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct
        FROM orders
        UNION ALL
        SELECT 'lineitem.l_returnflag', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN l_returnflag IN ('A', 'N', 'R')
                             THEN 0 ELSE 1 END) AS BIGINT),
               CAST(count(DISTINCT l_returnflag) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem.l_linestatus', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN l_linestatus IN ('F', 'O')
                             THEN 0 ELSE 1 END) AS BIGINT),
               CAST(count(DISTINCT l_linestatus) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'documents.lang', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN lang IN ('en', 'fr', 'es', 'de', 'zh')
                             THEN 0 ELSE 1 END) AS BIGINT),
               CAST(count(DISTINCT lang) AS BIGINT)
        FROM documents
    )
    SELECT col_name, n_rows, n_unexpected, n_distinct,
           CAST(n_unexpected * 1000000 // n_rows AS BIGINT)
               AS unexpected_ppm
    FROM t
    """


# --- round 10 (wave 53) -----------------------------------------------------

# Degree assortativity of the co-purchase graph: do high-degree parts
# co-sell with high-degree parts (r > 0) or with the long tail
# (r < 0)? Pearson over directed edge endpoint degrees — all moments
# exact BIGINTs from the persisted symmetric pair table; r is one
# shared-text IEEE expression.
ORACLES["copurchase_degree_assortativity"] = f"""
    WITH e AS (
        SELECT src, dst
        FROM '{_AUX_DIR}/copurchase_pairs/*.parquet'
    ),
    deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_edges,
               CAST(sum(ds.d) AS BIGINT) AS sum_d,
               CAST(sum(ds.d * ds.d) AS BIGINT) AS sum_d2,
               CAST(sum(ds.d * dd.d) AS BIGINT) AS sum_dudv
        FROM e JOIN deg ds ON ds.id = e.src JOIN deg dd ON dd.id = e.dst
    )
    SELECT n_edges, sum_d, sum_d2, sum_dudv,
           (CAST(n_edges AS DOUBLE) * CAST(sum_dudv AS DOUBLE)
            - CAST(sum_d AS DOUBLE) * CAST(sum_d AS DOUBLE))
           / (CAST(n_edges AS DOUBLE) * CAST(sum_d2 AS DOUBLE)
              - CAST(sum_d AS DOUBLE) * CAST(sum_d AS DOUBLE))
               AS assortativity_r
    FROM m
    """


# Chained Laspeyres / Paasche / Fisher price indices month over month:
# unit prices and quantities aggregated per (month, part), consecutive
# months joined per part via a lead() window (no self-join), index
# numerators/denominators exact BIGINTs, the indices shared-text IEEE.
ORACLES["chained_price_index_monthly"] = """
    WITH mp AS (
        SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
               l_partkey,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev
        FROM lineitem GROUP BY 1, 2
    ),
    p AS (
        SELECT month, l_partkey, qty, rev // qty AS unit,
               lead(month) OVER w AS n_month,
               lead(qty) OVER w AS n_qty,
               lead(rev) OVER w AS n_rev
        FROM mp
        WINDOW w AS (PARTITION BY l_partkey ORDER BY month)
    ),
    c AS (
        SELECT month AS base_month, n_month AS month,
               unit AS p0, qty AS q0,
               n_rev // n_qty AS p1, n_qty AS q1
        FROM p
        WHERE n_month = month + INTERVAL 1 MONTH
    )
    SELECT month,
           CAST(count(*) AS BIGINT) AS n_common_parts,
           CAST(sum(p1 * q0) AS BIGINT) AS lasp_num,
           CAST(sum(p0 * q0) AS BIGINT) AS lasp_den,
           CAST(sum(p1 * q1) AS BIGINT) AS paasche_num,
           CAST(sum(p0 * q1) AS BIGINT) AS paasche_den,
           CAST(sum(p1 * q0) AS DOUBLE) / CAST(sum(p0 * q0) AS DOUBLE)
               AS laspeyres_index,
           CAST(sum(p1 * q1) AS DOUBLE) / CAST(sum(p0 * q1) AS DOUBLE)
               AS paasche_index,
           sqrt((CAST(sum(p1 * q0) AS DOUBLE) / CAST(sum(p0 * q0) AS DOUBLE))
                * (CAST(sum(p1 * q1) AS DOUBLE)
                   / CAST(sum(p0 * q1) AS DOUBLE))) AS fisher_index
    FROM c GROUP BY 1
    """


# --- round 10 (wave 54) -----------------------------------------------------

# Watermark disorder census on deterministically jittered arrivals:
# each event's arrival = event time + md5-seeded delay (pure integer
# modulo — reproducible in both engines), lateness = how far the
# event-time high-water mark had already passed it on arrival. The
# bucket census is exactly the evidence a watermark delay is chosen
# from. All integer arithmetic; per-user windows.
ORACLES["watermark_disorder_census"] = """
    WITH e AS (
        SELECT user_id, event_id,
               epoch_us(ts) AS t_us,
               epoch_us(ts)
               + CAST(CAST(concat('0x',
                     substr(md5(CAST(event_id AS VARCHAR) || 'arr'), 1, 8))
                     AS BIGINT) % 600000000 AS BIGINT) AS arr_us
        FROM events
    ),
    r AS (
        SELECT user_id, t_us,
               max(t_us) OVER (PARTITION BY user_id
                               ORDER BY arr_us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS hwm_us
        FROM e
    ),
    l AS (
        SELECT CASE
                   WHEN hwm_us IS NULL OR hwm_us <= t_us THEN 0
                   WHEN hwm_us - t_us <= 60000000 THEN 1
                   WHEN hwm_us - t_us <= 300000000 THEN 2
                   ELSE 3
               END AS lateness_bucket
        FROM r
    )
    SELECT CAST(lateness_bucket AS BIGINT) AS lateness_bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) * 1000000
                // sum(count(*)) OVER () AS BIGINT) AS share_ppm
    FROM l GROUP BY 1
    """


# Markov transition drift by state: total-variation distance between
# the first-half and second-half transition rows, per source state —
# exact via the cross-multiplied form sum |c1*n2 - c2*n1| over the
# bounded destination alphabet. The behavior-drift read on top of
# event_transition_matrix.
ORACLES["transition_drift_by_state"] = """
    WITH p AS (
        SELECT * FROM (
            SELECT event_type AS src,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS dst,
                   epoch_us(ts) AS t_us
            FROM events
        ) WHERE dst IS NOT NULL
    ),
    m AS (
        SELECT CAST((min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS BIGINT)
            AS mid_us
        FROM events
    ),
    c AS (
        SELECT src, dst,
               CAST(sum(CASE WHEN t_us <= mid_us THEN 1
                        ELSE 0 END) AS BIGINT) AS c1,
               CAST(sum(CASE WHEN t_us > mid_us THEN 1
                        ELSE 0 END) AS BIGINT) AS c2
        FROM p CROSS JOIN m
        GROUP BY 1, 2
    ),
    t AS (
        SELECT src, CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c2) AS BIGINT) AS n2
        FROM c GROUP BY 1
    )
    SELECT c.src AS src, n1, n2,
           CAST(sum(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS l1_num,
           CASE WHEN n1 * n2 > 0 THEN
               CAST(sum(abs(c1 * n2 - c2 * n1)) * 1000000
                    // (2 * n1 * n2) AS BIGINT) END AS tv_ppm
    FROM c JOIN t ON t.src = c.src
    GROUP BY 1, 2, 3
    """


# --- round 10 (wave 55) -----------------------------------------------------

# Growth accounting (the SaaS revenue bridge): week-over-week revenue
# change decomposed into new + resurrected + expansion - contraction
# - churned customer cohorts (new = first-ever week; resurrected =
# returning after a lapse of >= 2 weeks), with the identity
# delta == new + res + exp - con - churn holding in exact cents by
# construction. One full outer join of the user-week frame against
# itself shifted a week — composite key-equi-join, co-partitioned,
# never a cross product — plus a per-user first-week equi-join.
ORACLES["growth_accounting_weekly"] = """
    WITH uw AS (
        SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
               CAST(round(sum(value) * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    bounds AS (SELECT min(week) AS minw, max(week) AS maxw FROM uw),
    firstw AS (
        SELECT user_id, min(week) AS first_week FROM uw GROUP BY 1
    ),
    cur AS (
        SELECT user_id, week, cents FROM uw CROSS JOIN bounds
        WHERE week > minw
    ),
    prv AS (
        SELECT user_id, CAST(week + INTERVAL 7 DAY AS DATE) AS week,
               cents AS pcents
        FROM uw
    ),
    j AS (
        SELECT COALESCE(cur.user_id, prv.user_id) AS uid,
               COALESCE(cur.week, prv.week) AS week, cur.cents, prv.pcents
        FROM cur
        FULL JOIN prv ON prv.user_id = cur.user_id AND prv.week = cur.week
    )
    SELECT week,
           CAST(sum(CASE WHEN pcents IS NULL AND week = first_week
                         THEN cents ELSE 0 END)
                AS BIGINT) AS new_cents,
           CAST(sum(CASE WHEN pcents IS NULL AND week > first_week
                         THEN cents ELSE 0 END)
                AS BIGINT) AS resurrected_cents,
           CAST(sum(CASE WHEN cents IS NOT NULL AND pcents IS NOT NULL
                          AND cents > pcents THEN cents - pcents ELSE 0 END)
                AS BIGINT) AS expansion_cents,
           CAST(sum(CASE WHEN cents IS NOT NULL AND pcents IS NOT NULL
                          AND cents < pcents THEN pcents - cents ELSE 0 END)
                AS BIGINT) AS contraction_cents,
           CAST(sum(CASE WHEN cents IS NULL THEN pcents ELSE 0 END)
                AS BIGINT) AS churned_cents,
           CAST(sum(COALESCE(cents, 0)) AS BIGINT) AS revenue_cents,
           CAST(sum(COALESCE(cents, 0)) - sum(COALESCE(pcents, 0))
                AS BIGINT) AS delta_cents
    FROM j
    JOIN firstw ON firstw.user_id = j.uid
    CROSS JOIN bounds
    WHERE COALESCE(j.week, DATE '1970-01-05') <= maxw
      AND COALESCE(j.week, DATE '1970-01-05') > minw
    GROUP BY 1
    """


# --- round 11 (wave 1) -------------------------------------------------------

def _hnsw_layer_sql(level: int) -> str:
    """One HNSW layer's reciprocity row, re-derived INDEPENDENTLY from
    the persisted bucket table (the knn_graph_reciprocity oracle
    pattern): DuckDB rebuilds the candidate pairs, the det-rounded
    cosine, and the exact micro scores itself, so a Spark-side scoring
    bug cannot pass. Level 0 is the full graph; level 1 keeps only
    nodes with vec_id % 8 == 0 (the deterministic stand-in for HNSW's
    geometric level assignment, p = 1/8). Ranks are pure integers
    (score_micro DESC, dst ASC)."""
    pair_where = "WHERE src % 8 = 0 AND dst % 8 = 0" if level else ""
    node_where = "WHERE vec_id % 8 = 0" if level else ""
    cos = (
        "list_dot_product(se.v, de.v)"
        " / nullif(sqrt(list_dot_product(se.v, se.v))"
        " * sqrt(list_dot_product(de.v, de.v)), 0)"
    )
    return f"""
    SELECT CAST({level} AS INT) AS layer, nn.n_nodes,
           agg.edges_5, agg.mutual_5,
           CAST(agg.mutual_5 * 1000000 // nullif(agg.edges_5, 0) AS BIGINT)
               AS recip_ppm_5,
           agg.edges_10, agg.mutual_10,
           CAST(agg.mutual_10 * 1000000 // nullif(agg.edges_10, 0) AS BIGINT)
               AS recip_ppm_10
    FROM (
        WITH b AS (SELECT * FROM '{_AUX_DIR}/hnsw_layer_buckets/*.parquet'),
        cand AS (
            SELECT DISTINCT b1.id AS src, b2.id AS dst
            FROM b b1 JOIN b b2 ON b1.tbl = b2.tbl AND b1.bucket = b2.bucket
            WHERE b1.id <> b2.id
        ),
        e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        s AS (
            SELECT src, dst,
                   CAST(round({_dr_top(cos, 6)} * 1000000.0) AS BIGINT)
                       AS score_micro
            FROM cand JOIN e se ON se.vec_id = cand.src
                      JOIN e de ON de.vec_id = cand.dst
        ),
        p AS (
            SELECT src, dst, score_micro FROM s {pair_where}
        ),
        t AS (
            SELECT src, dst,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY score_micro DESC, dst ASC)
                       AS rank
            FROM p
        ),
        tk AS (SELECT src, dst, rank FROM t WHERE rank <= 10),
        j AS (
            SELECT a.rank AS r, b.rank AS rr
            FROM tk a LEFT JOIN tk b ON b.src = a.dst AND b.dst = a.src
        )
        SELECT CAST(sum(CASE WHEN r <= 5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS edges_5,
               CAST(sum(CASE WHEN r <= 5 AND rr <= 5 THEN 1 ELSE 0 END)
                    AS BIGINT) AS mutual_5,
               CAST(sum(CASE WHEN r <= 10 THEN 1 ELSE 0 END) AS BIGINT)
                   AS edges_10,
               CAST(sum(CASE WHEN r <= 10 AND rr <= 10 THEN 1 ELSE 0 END)
                    AS BIGINT) AS mutual_10
        FROM j
    ) agg, (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes
        FROM embeddings {node_where}
    ) nn
    """


# HNSW-style layered reciprocity QA: the level-1 subgraph (1-in-8
# nodes, HNSW's upper layer) re-ranks its OWN top-k among surviving
# candidates — upper-layer reciprocity is what keeps greedy descent
# routable. Extends knn_graph_reciprocity from the same candidate
# derivation; both engines read one persisted integer-scored pair
# table and independently re-derive layers, ranks, and mutual edges.
ORACLES["hnsw_layer_reciprocity"] = " UNION ALL ".join(
    _hnsw_layer_sql(lvl) for lvl in (0, 1)
)


def _dedup_pareto_sql(thresh: str) -> str:
    """One (dedup keep-best + quality >= thresh) policy point: docs,
    chars, BPE-token mass surviving, plus the kept-quality integer sum
    (quality is det-rounded to 4dp, so round(q * 1e6) is exact)."""
    return f"""
    SELECT CAST({thresh} AS DOUBLE) AS threshold,
           CAST(count(*) AS BIGINT) AS n_docs_total,
           CAST(sum(kept) AS BIGINT) AS n_docs_kept,
           CAST(sum(n_chars) AS BIGINT) AS chars_total,
           CAST(sum(kept * n_chars) AS BIGINT) AS chars_kept,
           CAST((sum(n_chars) - sum(kept * n_chars)) * 1000000
                // nullif(sum(n_chars), 0) AS BIGINT) AS chars_saved_ppm,
           CAST(sum(bpe) AS BIGINT) AS tokens_total,
           CAST(sum(kept * bpe) AS BIGINT) AS tokens_kept,
           CAST(sum(kept * bpe) * 1000000 // nullif(sum(bpe), 0) AS BIGINT)
               AS token_keep_ppm,
           CAST(sum(kept * q_micro) AS BIGINT) AS kept_quality_micro_sum
    FROM (
        SELECT CASE WHEN x.doc_id = x.canonical_id
                     AND x.quality >= {thresh} THEN 1 ELSE 0 END AS kept,
               d.n_chars,
               CAST(len(regexp_extract_all(d.text,
                    '{_BPE_RE}')) AS BIGINT) AS bpe,
               CAST(round(x.quality * 1000000.0) AS BIGINT) AS q_micro
        FROM x JOIN documents d ON x.doc_id = d.doc_id
    )
    """


# Dedup cost/benefit Pareto frontier: each row is one deletion policy
# (keep-best canonicalization + a quality floor) scored on both axes —
# storage saved (chars ppm) vs corpus retained (BPE-token mass, kept-
# quality sum). threshold 0.0 is the pure-dedup endpoint. Composes the
# dedup_purge_savings closure with quality_filter_ablation's sweep.
ORACLES["dedup_quality_pareto"] = (
    ORACLES["dedup_clusters"].rsplit("SELECT id AS doc_id", 1)[0]
    + f""", cl AS (
        SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    ), q AS (
        SELECT doc_id, {_QUALITY_SQL} AS quality FROM documents
    ), x AS (
        SELECT cl.doc_id, cl.cluster_id, q.quality,
               first_value(cl.doc_id) OVER (
                   PARTITION BY cl.cluster_id
                   ORDER BY q.quality DESC NULLS LAST, cl.doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS canonical_id
        FROM cl JOIN q ON cl.doc_id = q.doc_id
    )
    """
    + " UNION ALL ".join(
        _dedup_pareto_sql(t) for t in ("0.0", "0.25", "0.5", "0.75")
    )
)


# Backfill idempotency proof for the flagship incremental-loading
# promise (reference README.md:558): rebuild the last-two-month window
# of the monthly finance mart from ONLY that window's events, splice it
# onto the untouched head, and count divergence vs the full rebuild.
# The mart legs are exact BIGINT cents (order-free integer sums), so
# bit-identity is decidable — n_value_mismatch must be 0.
ORACLES["mart_backfill_idempotency"] = """
    WITH ev AS (
        SELECT user_id AS symbol,
               CAST(date_trunc('month', ts) AS DATE) AS month,
               event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
        WHERE event_type IN ('purchase', 'click', 'view')
    ),
    agg AS (
        SELECT symbol, month,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN cents
                        ELSE 0 END) AS BIGINT) AS revenue_cents,
               CAST(sum(CASE WHEN event_type = 'click' THEN cents
                        ELSE 0 END) AS BIGINT) AS assets_cents,
               CAST(sum(CASE WHEN event_type = 'view' THEN cents
                        ELSE 0 END) AS BIGINT) AS ocf_cents
        FROM ev GROUP BY 1, 2
    ),
    bounds AS (
        SELECT CAST(max(month) - INTERVAL 1 MONTH AS DATE) AS cutoff
        FROM agg
    ),
    incr AS (
        SELECT symbol, month,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN cents
                        ELSE 0 END) AS BIGINT) AS revenue_cents,
               CAST(sum(CASE WHEN event_type = 'click' THEN cents
                        ELSE 0 END) AS BIGINT) AS assets_cents,
               CAST(sum(CASE WHEN event_type = 'view' THEN cents
                        ELSE 0 END) AS BIGINT) AS ocf_cents
        FROM ev CROSS JOIN bounds
        WHERE month >= cutoff
        GROUP BY 1, 2
    ),
    merged AS (
        SELECT a.* FROM agg a CROSS JOIN bounds WHERE a.month < cutoff
        UNION ALL
        SELECT * FROM incr
    ),
    cmp AS (
        SELECT f.symbol AS f_sym, f.month AS f_month,
               m.symbol AS m_sym, m.month AS m_month,
               CASE WHEN f.symbol IS NOT NULL AND m.symbol IS NOT NULL
                     AND (f.revenue_cents <> m.revenue_cents
                          OR f.assets_cents <> m.assets_cents
                          OR f.ocf_cents <> m.ocf_cents)
                    THEN 1 ELSE 0 END AS mismatch
        FROM agg f
        FULL JOIN merged m
          ON m.symbol = f.symbol AND m.month = f.month
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM agg) AS n_rows_full,
           (SELECT CAST(count(*) AS BIGINT) FROM merged) AS n_rows_merged,
           (SELECT CAST(count(*) AS BIGINT) FROM agg CROSS JOIN bounds
             WHERE month >= cutoff) AS n_window_rows,
           CAST(sum(CASE WHEN m_sym IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_only_full,
           CAST(sum(CASE WHEN f_sym IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_only_merged,
           CAST(sum(mismatch) AS BIGINT) AS n_value_mismatch,
           CAST(CASE WHEN sum(CASE WHEN m_sym IS NULL OR f_sym IS NULL
                                   THEN 1 ELSE 0 END) + sum(mismatch) = 0
                     THEN 1 ELSE 0 END AS INT) AS idempotent
    FROM cmp
    """


# --- round 12 ----------------------------------------------------------------

# Perceptual-hash (aHash) image near-dup census: the oracle re-derives
# every 64-bit hash PURELY from the synthetic-pixel formula (the
# media_decode_features convention — so a hash match proves the real
# PNG encode->deflate->decode->resample loop round-trips bit-exactly),
# then brute-forces pairs WITHIN each (width, height) shape class,
# which by pigeonhole exactness equals the Spark side's chunk-blocked
# join. Bits: patch LUMINANCE (exact integer r+g+b channel sum — the
# per-channel synth formula is v_c = (base + c*101) % 256, so each
# channel is re-derived and summed; reacts to every channel, unlike an
# R-only sample, ADVICE r12) strictly above the 8x8 patch mean,
# integer cross-multiplied (px * 64 > sum) so no float tie exists.
# Shared aHash re-derivation (formula-only, no PNG bytes): the d/g/s/
# bits CTE chain every phash oracle interpolates exactly once, so the
# hash definition cannot drift between the near-dup census and the
# dedup-savings audit (the TOKEN_PATTERN lesson, ADVICE r11).
_PHASH_BITS_CTES = """d AS (
        SELECT doc_id,
               CAST(8 + doc_id % 9 AS INT) AS width,
               CAST(8 + doc_id % 7 AS INT) AS height
        FROM documents
    ), g AS (
        SELECT doc_id, width, height, gy.y * 8 + gx.x AS idx,
               (doc_id * 31 + ((gx.x * width) // 8) * 7
                            + ((gy.y * height) // 8) * 13) % 256
               + (doc_id * 31 + ((gx.x * width) // 8) * 7
                              + ((gy.y * height) // 8) * 13 + 101) % 256
               + (doc_id * 31 + ((gx.x * width) // 8) * 7
                              + ((gy.y * height) // 8) * 13 + 202) % 256
                   AS px
        FROM d,
             LATERAL (SELECT unnest(generate_series(0, 7)) AS x) gx,
             LATERAL (SELECT unnest(generate_series(0, 7)) AS y) gy
    ), s AS (
        SELECT doc_id, sum(px) AS tot FROM g GROUP BY 1
    ), bits AS (
        SELECT g.doc_id, g.width, g.height,
               CAST(sum(CASE WHEN g.px * 64 > s.tot AND g.idx < 32
                             THEN (CAST(1 AS BIGINT) << g.idx)
                             ELSE 0 END) AS BIGINT) AS lo,
               CAST(sum(CASE WHEN g.px * 64 > s.tot AND g.idx >= 32
                             THEN (CAST(1 AS BIGINT) << (g.idx - 32))
                             ELSE 0 END) AS BIGINT) AS hi
        FROM g JOIN s ON s.doc_id = g.doc_id
        GROUP BY 1, 2, 3
    )"""

ORACLES["phash_media_near_dup"] = f"""
    WITH {_PHASH_BITS_CTES}, cls AS (
        SELECT width, height, CAST(count(*) AS BIGINT) AS n_docs
        FROM bits GROUP BY 1, 2
    ), p AS (
        SELECT a.width, a.height,
               bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                   AS hamming
        FROM bits a
        JOIN bits b ON a.width = b.width AND a.height = b.height
                   AND a.doc_id < b.doc_id
    ), pa AS (
        SELECT width, height,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN hamming = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_exact_pairs,
               CAST(sum(hamming) AS BIGINT) AS hamming_sum
        FROM p WHERE hamming <= 7
        GROUP BY 1, 2
    )
    SELECT cls.width, cls.height, cls.n_docs,
           CAST(coalesce(pa.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(pa.n_exact_pairs, 0) AS BIGINT) AS n_exact_pairs,
           CAST(coalesce(pa.hamming_sum, 0) AS BIGINT) AS hamming_sum
    FROM cls LEFT JOIN pa ON pa.width = cls.width AND pa.height = cls.height
    """

# Semantic (embedding-level) decontamination: the oracle re-reads the
# SAME persisted train-side IVF index and eval-side probe table the
# Spark plan wrote, re-joins candidates on the cell key, re-scores
# exact cosine with the house det_round(6) micro convention, and
# re-counts contaminated train vectors per threshold. n_eval / n_train
# come from the persisted tables themselves (probes are one row per
# (eval vec, probed cell) with nprobe = 4).
# Shared qe/te cosine in exact BIGINT micro-units — one definition for
# every decontamination-family oracle (semantic_decontamination,
# decontamination_method_agreement, semantic_decontamination_recall),
# via the det_micro_sql twin of functions/scalars.det_micro.
from finance_reporting_etl_spark.functions.scalars import (  # noqa: E402
    det_micro_sql as _det_micro_sql,
)

_COS_MICRO = _det_micro_sql(
    "list_dot_product(qe.v, te.v)"
    " / nullif(sqrt(list_dot_product(qe.v, qe.v))"
    " * sqrt(list_dot_product(te.v, te.v)), 0)",
    6,
)
ORACLES["semantic_decontamination"] = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    idx AS (SELECT * FROM '{_AUX_DIR}/semdecon_index/*.parquet'),
    pb AS (SELECT * FROM '{_AUX_DIR}/semdecon_probes/*.parquet'),
    cand AS (
        SELECT pb.query_id, idx.id AS train_id
        FROM idx JOIN pb ON pb.cell = idx.cell
    ),
    sc AS (
        SELECT c.train_id,
               {_COS_MICRO}
                   AS score_micro
        FROM cand c
        JOIN e qe ON qe.vec_id = c.query_id
        JOIN e te ON te.vec_id = c.train_id
    ),
    mx AS (
        SELECT train_id, max(score_micro) AS mx FROM sc GROUP BY 1
    ),
    scalars AS (
        SELECT (SELECT CAST(count(DISTINCT query_id) AS BIGINT) FROM pb)
                   AS n_eval,
               (SELECT CAST(count(*) AS BIGINT) FROM idx) AS n_train,
               (SELECT CAST(count(*) AS BIGINT) FROM cand)
                   AS n_candidate_pairs
    ),
    t AS (SELECT unnest([300000, 350000, 400000]) AS thresh_micro)
    SELECT CAST(t.thresh_micro AS BIGINT) AS thresh_micro,
           s.n_eval, s.n_train, s.n_candidate_pairs,
           CAST(coalesce((SELECT count(*) FROM mx
                          WHERE mx >= t.thresh_micro), 0) AS BIGINT)
               AS n_contaminated,
           CAST(coalesce((SELECT count(*) FROM mx
                          WHERE mx >= t.thresh_micro), 0)
                * 1000000 // s.n_train AS BIGINT) AS contam_ppm
    FROM t CROSS JOIN scalars s
    """

# Shard-local ANN index build -> global merge plan: the oracle re-reads
# the persisted (id, cell) assignment, re-derives each vector's build
# shard INDEPENDENTLY from the md5 formula (the md5_bucket twin, keyed
# on vec_id with the 'shard' salt, mod 8), and re-aggregates the
# per-cell merge-cost table.
ORACLES["ann_shard_merge_plan"] = f"""
    WITH idx AS (SELECT * FROM '{_AUX_DIR}/shard_merge_index/*.parquet'),
    a AS (
        SELECT cell,
               CAST((instr('0123456789abcdef',
                           substr(md5(CAST(id AS VARCHAR) || 'shard'), 1, 1))
                     - 1) * 16
                    + (instr('0123456789abcdef',
                             substr(md5(CAST(id AS VARCHAR) || 'shard'), 2, 1))
                       - 1) AS BIGINT) % 8 AS shard
        FROM idx
    ),
    per AS (
        SELECT cell, shard, CAST(count(*) AS BIGINT) AS n
        FROM a GROUP BY 1, 2
    )
    SELECT cell,
           CAST(count(*) AS BIGINT) AS n_shards,
           CAST(sum(n) AS BIGINT) AS n_vecs,
           CAST(max(n) AS BIGINT) AS max_shard_vecs,
           CAST(max(n) * 1000000 // sum(n) AS BIGINT) AS max_share_ppm,
           CAST(sum(n) - max(n) AS BIGINT) AS rows_moved,
           CAST(sum(n) * 64 * 4 AS BIGINT) AS merged_bytes
    FROM per GROUP BY 1
    """


# Exact-duplicate image purge savings: cluster = identical aHash within
# a shape class, keeper = one per cluster, savings measured in decoded
# pixel bytes (w*h*3 — re-derivable, unlike zlib-compressed payload
# lengths which are codec-setting-dependent). The oracle re-derives
# every hash from the pixel formula via the shared CTE chain.
ORACLES["phash_dedup_savings"] = f"""
    WITH {_PHASH_BITS_CTES},
    cl AS (
        SELECT width, height, hi, lo, CAST(count(*) AS BIGINT) AS n
        FROM bits GROUP BY 1, 2, 3, 4
    )
    SELECT width, height,
           CAST(sum(n) AS BIGINT) AS n_images,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(n) - count(*) AS BIGINT) AS n_purged,
           CAST(max(n) AS BIGINT) AS max_cluster_size,
           CAST((sum(n) - count(*)) * width * height * 3 AS BIGINT)
               AS purged_pixel_bytes,
           CAST((sum(n) - count(*)) * 1000000 // sum(n) AS BIGINT)
               AS purged_ppm
    FROM cl GROUP BY 1, 2
    """

# n-gram vs semantic decontamination agreement: BOTH legs run on the
# SAME salted split (md5(id || 'decon') < 13 = the eval/benchmark
# bucket — the decontaminate_4gram split), the universe is the train
# ids that have embeddings (= the persisted train-side index), and the
# verdict is the 2x2 confusion matrix + Cohen's kappa in the house
# exact-integer form (kappa itself is ONE double division of BIGINTs,
# the lang_id_agreement_kappa convention). The n-gram leg re-derives
# in SQL from the documents table; the semantic leg re-derives from
# the persisted index/probe parquet.
ORACLES["decontamination_method_agreement"] = f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS toks, {_b256("decon")} AS b FROM documents
    ),
    grams AS (
        SELECT doc_id, b,
               unnest(list_transform(generate_series(1, len(toks)-3),
                                     i -> array_to_string(toks[i:i+3], ' ')))
                   AS gram
        FROM t WHERE len(toks) >= 4
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE b < 13),
    ng AS (
        SELECT DISTINCT g.doc_id
        FROM (SELECT DISTINCT doc_id, gram FROM grams WHERE b >= 13) g
        JOIN bench USING (gram)
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    idx AS (SELECT * FROM '{_AUX_DIR}/deconagree_index/*.parquet'),
    pb AS (SELECT * FROM '{_AUX_DIR}/deconagree_probes/*.parquet'),
    sc AS (
        SELECT c.train_id,
               {_COS_MICRO}
                   AS score_micro
        FROM (SELECT pb.query_id, idx.id AS train_id
              FROM idx JOIN pb ON pb.cell = idx.cell) c
        JOIN e qe ON qe.vec_id = c.query_id
        JOIN e te ON te.vec_id = c.train_id
    ),
    sem AS (
        SELECT train_id FROM sc GROUP BY 1 HAVING max(score_micro) >= 300000
    ),
    uni AS (
        SELECT idx.id,
               CASE WHEN ng.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_ng,
               CASE WHEN sem.train_id IS NOT NULL THEN 1 ELSE 0 END AS f_sem
        FROM idx
        LEFT JOIN ng ON ng.doc_id = idx.id
        LEFT JOIN sem ON sem.train_id = idx.id
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_universe,
               CAST(sum(CASE WHEN f_ng = 1 AND f_sem = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_both,
               CAST(sum(CASE WHEN f_ng = 1 AND f_sem = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ngram_only,
               CAST(sum(CASE WHEN f_ng = 0 AND f_sem = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_sem_only,
               CAST(sum(CASE WHEN f_ng = 0 AND f_sem = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_neither
        FROM uni
    )
    SELECT n_universe, n_both, n_ngram_only, n_sem_only, n_neither,
           CAST((n_both + n_neither) * 1000000 // n_universe AS BIGINT)
               AS agree_ppm,
           CAST((n_both + n_ngram_only) * (n_both + n_sem_only)
                + (n_sem_only + n_neither) * (n_ngram_only + n_neither)
                AS BIGINT) AS pe_num,
           CAST((n_both + n_neither) * n_universe
                - ((n_both + n_ngram_only) * (n_both + n_sem_only)
                   + (n_sem_only + n_neither) * (n_ngram_only + n_neither))
                AS DOUBLE)
           / nullif(CAST(n_universe * n_universe
                  - ((n_both + n_ngram_only) * (n_both + n_sem_only)
                     + (n_sem_only + n_neither) * (n_ngram_only + n_neither))
                  AS DOUBLE), 0.0) AS kappa
    FROM m
    """


# Streaming signature-store maintenance twin: the micro-batched decode
# -> hash -> append pipeline must land on EXACTLY the batch purge
# census (signatures are per-doc rows — trivially mergeable across
# micro-batch boundaries), so it shares the batch oracle verbatim (the
# streaming_value_drift_psi convention).
ORACLES["streaming_phash_signature_maintain"] = ORACLES["phash_dedup_savings"]

# Semantic-decontamination recall sweep: per nprobe, the IVF screen's
# flagged-train count vs the brute-force truth at the same 0.30
# threshold. Truth is re-derived in SQL from the embeddings table and
# the md5 split formula; every per-nprobe retrieval re-derives from
# its own persisted probe table against the shared persisted index.
# Both legs run on the SAME deterministic fixed-size eval sample (the
# 64 eval-split ids with the smallest md5(vec_id || 'semdecon-k')
# digest) so the brute-force audit is constant-broadcast at any SF
# (VERDICT r12 task 2).
def _semdecon_recall_oracle() -> str:
    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,"
        " CAST((instr('0123456789abcdef',"
        " substr(md5(CAST(vec_id AS VARCHAR) || 'semdecon'), 1, 1)) - 1) * 16"
        " + (instr('0123456789abcdef',"
        " substr(md5(CAST(vec_id AS VARCHAR) || 'semdecon'), 2, 1)) - 1)"
        " AS BIGINT) AS b FROM embeddings)",
        "ev AS (SELECT vec_id AS query_id, v FROM e WHERE b < 13"
        " ORDER BY md5(CAST(vec_id AS VARCHAR) || 'semdecon-k') LIMIT 64)",
        "tr AS (SELECT vec_id AS train_id, v FROM e WHERE b >= 13)",
        f"truth AS (SELECT DISTINCT te.train_id"
        f" FROM tr te CROSS JOIN ev qe"
        f" WHERE {_COS_MICRO} >= 300000)",
        "tn AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)",
        f"idx AS (SELECT * FROM '{_AUX_DIR}/semdecon_recall_index/*.parquet')",
        f"pb AS (SELECT * FROM"
        f" '{_AUX_DIR}/semdecon_recall_probes/*.parquet')",
        # one scored frame: a candidate lives in exactly one cell, so a
        # (query, train) pair has a single probe_rank and every sweep
        # point is a rank-prefix filter over this table
        f"sc AS (SELECT c.train_id, c.probe_rank,"
        f" CASE WHEN {_COS_MICRO} >= 300000 THEN 1 ELSE 0 END AS hit"
        f" FROM (SELECT pb.query_id, i.id AS train_id, pb.probe_rank"
        f" FROM idx i JOIN pb ON pb.cell = i.cell) c"
        f" JOIN e qe ON qe.vec_id = c.query_id"
        f" JOIN e te ON te.vec_id = c.train_id)",
        "fr AS (SELECT train_id, min(probe_rank) AS first_rank"
        " FROM sc WHERE hit = 1 GROUP BY 1)",
    ]
    selects = []
    for p in (1, 2, 4, 8):
        selects.append(
            f"SELECT CAST({p} AS BIGINT) AS nprobe,"
            f" (SELECT CAST(count(*) AS BIGINT) FROM sc"
            f"  WHERE probe_rank <= {p}) AS n_candidates,"
            f" (SELECT CAST(count(*) AS BIGINT) FROM fr"
            f"  WHERE first_rank <= {p}) AS n_flagged,"
            f" (SELECT n_truth FROM tn) AS n_truth,"
            # n_truth = 0 -> // yields NULL; the -1 sentinel mirrors the
            # Spark leg so a degenerate fixture fails the compare loudly
            f" CAST(coalesce((SELECT count(*) FROM fr WHERE first_rank <= {p})"
            f" * 1000000 // nullif((SELECT n_truth FROM tn), 0), -1) AS BIGINT)"
            f" AS recall_ppm"
        )
    return "WITH " + ",\n    ".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


ORACLES["semantic_decontamination_recall"] = _semdecon_recall_oracle()


# --- round 13 ----------------------------------------------------------------

# Image near-dup purge Pareto: keep-lowest-id greedy canonicalization
# (a doc is purged at threshold t iff ANY lower-id doc in its shape
# class sits within hamming t) swept from ONE pair table — each sweep
# point is a min-hamming prefix filter, the prefix-ranked-probe lesson
# applied to hamming. The oracle re-derives every hash from the
# pixel-formula bits CTE and computes the within-class min CAPPED at
# the same PHASH_PURGE_MAX_H the Spark pair table is blocked at, so
# the two legs' first_h columns are structurally identical (ADVICE
# r13: an uncapped oracle min only coincidentally agreed while every
# sweep threshold stayed <= the cap). The Spark leg imports both
# constants and asserts max(sweep) <= cap.
PHASH_PURGE_SWEEP = (0, 2, 4, 7)
PHASH_PURGE_MAX_H = 7
assert max(PHASH_PURGE_SWEEP) <= PHASH_PURGE_MAX_H

ORACLES["phash_purge_pareto"] = f"""
    WITH {_PHASH_BITS_CTES},
    fh AS (
        SELECT b.doc_id,
               min(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)))
                   AS first_h
        FROM bits a
        JOIN bits b ON a.width = b.width AND a.height = b.height
                   AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                  <= {PHASH_PURGE_MAX_H}
        GROUP BY 1
    ),
    j AS (
        SELECT bits.doc_id, bits.width, bits.height, fh.first_h
        FROM bits LEFT JOIN fh ON fh.doc_id = bits.doc_id
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(width * height * 3) AS BIGINT) AS total_pixel_bytes
        FROM j
    ),
    t AS (SELECT unnest([{", ".join(str(t) for t in PHASH_PURGE_SWEEP)}]) AS thresh)
    SELECT CAST(t.thresh AS BIGINT) AS thresh,
           tot.n_docs,
           tot.total_pixel_bytes,
           CAST(coalesce((SELECT count(*) FROM j
                          WHERE first_h <= t.thresh), 0) AS BIGINT)
               AS n_purged,
           CAST(coalesce((SELECT sum(width * height * 3) FROM j
                          WHERE first_h <= t.thresh), 0) AS BIGINT)
               AS purged_pixel_bytes,
           CAST(coalesce((SELECT count(*) FROM j
                          WHERE first_h <= t.thresh), 0)
                * 1000000 // tot.n_docs AS BIGINT) AS purged_ppm
    FROM t CROSS JOIN tot
    """

# Cross-modal decontamination agreement: image-flag (phash near-dup of
# a held-out eval image, hamming <= 7) vs embedding-flag (semantic
# screen at 0.30) on the SAME salted 'decon' split, universe = train
# ids that have embeddings (= the persisted train-side index). The
# image leg re-derives hashes from the pixel-formula bits CTE and
# brute-forces train x eval within shape class (= the Spark side's
# pigeonhole-blocked cross join); the semantic leg re-derives from the
# persisted index/probe parquet. Confusion + Cohen's kappa in the
# decontamination_method_agreement convention.
ORACLES["crossmodal_decon_agreement"] = f"""
    WITH {_PHASH_BITS_CTES},
    eb AS (
        SELECT vec_id,
               CAST((instr('0123456789abcdef',
                           substr(md5(CAST(vec_id AS VARCHAR) || 'decon'),
                                  1, 1)) - 1) * 16
                    + (instr('0123456789abcdef',
                             substr(md5(CAST(vec_id AS VARCHAR) || 'decon'),
                                    2, 1)) - 1) AS BIGINT) AS b,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    idx AS (SELECT * FROM '{_AUX_DIR}/xmodal_index/*.parquet'),
    pb AS (SELECT * FROM '{_AUX_DIR}/xmodal_probes/*.parquet'),
    evbits AS (
        SELECT bits.* FROM bits JOIN eb ON eb.vec_id = bits.doc_id
        WHERE eb.b < 13
    ),
    img AS (
        SELECT DISTINCT a.doc_id
        FROM bits a
        JOIN evbits b ON a.width = b.width AND a.height = b.height
        WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7
    ),
    sc AS (
        SELECT c.train_id,
               {_COS_MICRO}
                   AS score_micro
        FROM (SELECT pb.query_id, idx.id AS train_id
              FROM idx JOIN pb ON pb.cell = idx.cell) c
        JOIN eb qe ON qe.vec_id = c.query_id
        JOIN eb te ON te.vec_id = c.train_id
    ),
    sem AS (
        SELECT train_id FROM sc GROUP BY 1 HAVING max(score_micro) >= 300000
    ),
    uni AS (
        SELECT idx.id,
               CASE WHEN img.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_img,
               CASE WHEN sem.train_id IS NOT NULL THEN 1 ELSE 0 END AS f_sem
        FROM idx
        LEFT JOIN img ON img.doc_id = idx.id
        LEFT JOIN sem ON sem.train_id = idx.id
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_universe,
               CAST(sum(CASE WHEN f_img = 1 AND f_sem = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_both,
               CAST(sum(CASE WHEN f_img = 1 AND f_sem = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_image_only,
               CAST(sum(CASE WHEN f_img = 0 AND f_sem = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_sem_only,
               CAST(sum(CASE WHEN f_img = 0 AND f_sem = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_neither
        FROM uni
    )
    SELECT n_universe, n_both, n_image_only, n_sem_only, n_neither,
           CAST((n_both + n_neither) * 1000000 // n_universe AS BIGINT)
               AS agree_ppm,
           CAST((n_both + n_image_only) * (n_both + n_sem_only)
                + (n_sem_only + n_neither) * (n_image_only + n_neither)
                AS BIGINT) AS pe_num,
           CAST((n_both + n_neither) * n_universe
                - ((n_both + n_image_only) * (n_both + n_sem_only)
                   + (n_sem_only + n_neither) * (n_image_only + n_neither))
                AS DOUBLE)
           / nullif(CAST(n_universe * n_universe
                  - ((n_both + n_image_only) * (n_both + n_sem_only)
                     + (n_sem_only + n_neither) * (n_image_only + n_neither))
                  AS DOUBLE), 0.0) AS kappa
    FROM m
    """

# Streaming IVF upsert / cell re-assignment: the oracle re-derives the
# per-cell move census from the BATCH-built truth index (latest-version
# vectors through the same quantizer) joined to the persisted v1 index,
# with the update membership re-derived from the md5 formula — while
# the Spark side aggregates the STREAMING-maintained index. A hash
# match therefore proves the foreachBatch merge upsert converged to
# exactly the batch rebuild, per cell and per membership checksum.
ORACLES["streaming_ivf_upsert_reassign"] = f"""
    WITH s AS (SELECT * FROM '{_AUX_DIR}/ivfupsert_truth_index/*.parquet'),
    v1 AS (SELECT * FROM '{_AUX_DIR}/ivfupsert_v1_index/*.parquet'),
    j AS (
        SELECT s.id, s.cell AS cf, v1.cell AS c1,
               CASE WHEN CAST((instr('0123456789abcdef',
                         substr(md5(CAST(s.id AS VARCHAR) || 'ivfupd'),
                                1, 1)) - 1) * 16
                    + (instr('0123456789abcdef',
                             substr(md5(CAST(s.id AS VARCHAR) || 'ivfupd'),
                                    2, 1)) - 1) AS BIGINT) < 64
                    THEN 1 ELSE 0 END AS upd
        FROM s JOIN v1 ON v1.id = s.id
    ),
    a1 AS (
        SELECT cf AS cell,
               CAST(count(*) AS BIGINT) AS n_final,
               CAST(sum(id) AS BIGINT) AS id_sum,
               CAST(sum(upd) AS BIGINT) AS n_updated,
               CAST(sum(CASE WHEN cf <> c1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_moved_in
        FROM j GROUP BY 1
    ),
    a2 AS (
        SELECT c1 AS cell, CAST(count(*) AS BIGINT) AS n_moved_out
        FROM j WHERE cf <> c1 GROUP BY 1
    )
    SELECT coalesce(a1.cell, a2.cell) AS cell,
           CAST(coalesce(a1.n_final, 0) AS BIGINT) AS n_final,
           CAST(coalesce(a1.id_sum, 0) AS BIGINT) AS id_sum,
           CAST(coalesce(a1.n_updated, 0) AS BIGINT) AS n_updated,
           CAST(coalesce(a1.n_moved_in, 0) AS BIGINT) AS n_moved_in,
           CAST(coalesce(a2.n_moved_out, 0) AS BIGINT) AS n_moved_out
    FROM a1 FULL JOIN a2 ON a2.cell = a1.cell
    """


# Three-method decontamination agreement (n-gram vs semantic vs image)
# on the SAME salted 'decon' split: per-doc flag-count census c0..c3 in
# exact BIGINTs, per-method totals, and Fleiss' kappa for 3 raters x 2
# categories in the house exact-integer form — with S/2 = 3*c0 + c1 +
# c2 + 3*c3 (the pairwise-agreement numerator halved; every original
# coefficient is even so the halving is exact in BIGINT), T = total
# flags, U = 3n - T: kappa = (3n*(S/2) - T^2 - U^2) / (9n^2 - T^2 -
# U^2), ONE double division of BIGINTs (the lang_id_agreement_kappa
# convention extended to three raters). Each leg re-derives exactly as in its pairwise
# oracle: grams from the documents table, semantic from the persisted
# decon3 index/probes, image from the pixel-formula bits CTE.
ORACLES["decon_method_agreement_3way"] = f"""
    WITH {_PHASH_BITS_CTES},
    t AS (
        SELECT doc_id, {_TOKS} AS toks, {_b256("decon")} AS b FROM documents
    ),
    grams AS (
        SELECT doc_id, b,
               unnest(list_transform(generate_series(1, len(toks)-3),
                                     i -> array_to_string(toks[i:i+3], ' ')))
                   AS gram
        FROM t WHERE len(toks) >= 4
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE b < 13),
    ng AS (
        SELECT DISTINCT g.doc_id
        FROM (SELECT DISTINCT doc_id, gram FROM grams WHERE b >= 13) g
        JOIN bench USING (gram)
    ),
    eb AS (
        SELECT vec_id,
               CAST((instr('0123456789abcdef',
                           substr(md5(CAST(vec_id AS VARCHAR) || 'decon'),
                                  1, 1)) - 1) * 16
                    + (instr('0123456789abcdef',
                             substr(md5(CAST(vec_id AS VARCHAR) || 'decon'),
                                    2, 1)) - 1) AS BIGINT) AS b,
               CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    idx AS (SELECT * FROM '{_AUX_DIR}/decon3_index/*.parquet'),
    pb AS (SELECT * FROM '{_AUX_DIR}/decon3_probes/*.parquet'),
    sc AS (
        SELECT c.train_id,
               {_COS_MICRO}
                   AS score_micro
        FROM (SELECT pb.query_id, idx.id AS train_id
              FROM idx JOIN pb ON pb.cell = idx.cell) c
        JOIN eb qe ON qe.vec_id = c.query_id
        JOIN eb te ON te.vec_id = c.train_id
    ),
    sem AS (
        SELECT train_id FROM sc GROUP BY 1 HAVING max(score_micro) >= 300000
    ),
    evbits AS (
        SELECT bits.* FROM bits JOIN eb ON eb.vec_id = bits.doc_id
        WHERE eb.b < 13
    ),
    img AS (
        SELECT DISTINCT a.doc_id
        FROM bits a
        JOIN evbits b ON a.width = b.width AND a.height = b.height
        WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7
    ),
    uni AS (
        SELECT idx.id,
               (CASE WHEN ng.doc_id IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN sem.train_id IS NOT NULL THEN 1 ELSE 0 END
                + CASE WHEN img.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS f,
               CASE WHEN ng.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_ng,
               CASE WHEN sem.train_id IS NOT NULL THEN 1 ELSE 0 END AS f_sem,
               CASE WHEN img.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_img
        FROM idx
        LEFT JOIN ng ON ng.doc_id = idx.id
        LEFT JOIN sem ON sem.train_id = idx.id
        LEFT JOIN img ON img.doc_id = idx.id
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_universe,
               CAST(sum(CASE WHEN f = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
               CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
               CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
               CAST(sum(CASE WHEN f = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
               CAST(sum(f_ng) AS BIGINT) AS n_ng,
               CAST(sum(f_sem) AS BIGINT) AS n_sem,
               CAST(sum(f_img) AS BIGINT) AS n_img,
               CAST(sum(f) AS BIGINT) AS n_flags_total
        FROM uni
    )
    SELECT n_universe, c0, c1, c2, c3, n_ng, n_sem, n_img, n_flags_total,
           CAST(3 * n_universe * (3*c0 + c1 + c2 + 3*c3)
                - n_flags_total * n_flags_total
                - (3 * n_universe - n_flags_total)
                  * (3 * n_universe - n_flags_total) AS DOUBLE)
           / nullif(CAST(9 * n_universe * n_universe
                  - n_flags_total * n_flags_total
                  - (3 * n_universe - n_flags_total)
                    * (3 * n_universe - n_flags_total) AS DOUBLE), 0)
               AS fleiss_kappa
    FROM m
    """

# Streaming semantic-decontamination flag maintenance: train vectors
# arrive in micro-batches, each batch screens ONLY its own vectors
# against the static eval probe set (a flag depends on one train
# vector alone, so flags are trivially mergeable — the per-doc-row
# argument of streaming_phash_signature_maintain applied to X3). The
# oracle re-derives the single-threshold census from the ACCUMULATED
# persisted index + the static probe table, exactly the
# semantic_decontamination derivation at t = 0.30 plus a flagged-id
# checksum.
ORACLES["streaming_semdecon_flag_maintain"] = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    idx AS (SELECT * FROM '{_AUX_DIR}/semdecon_stream_index/*.parquet'),
    pb AS (SELECT * FROM '{_AUX_DIR}/semdecon_stream_probes/*.parquet'),
    cand AS (
        SELECT pb.query_id, idx.id AS train_id
        FROM idx JOIN pb ON pb.cell = idx.cell
    ),
    sc AS (
        SELECT c.train_id,
               {_COS_MICRO}
                   AS score_micro
        FROM cand c
        JOIN e qe ON qe.vec_id = c.query_id
        JOIN e te ON te.vec_id = c.train_id
    ),
    fl AS (
        SELECT train_id FROM sc GROUP BY 1 HAVING max(score_micro) >= 300000
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM idx) AS n_train,
           (SELECT CAST(count(DISTINCT query_id) AS BIGINT) FROM pb) AS n_eval,
           (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidate_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM fl) AS n_flagged,
           (SELECT CAST(coalesce(sum(train_id), 0) AS BIGINT) FROM fl)
               AS flagged_id_sum,
           CAST((SELECT count(*) FROM fl) * 1000000
                // (SELECT count(*) FROM idx) AS BIGINT) AS flagged_ppm
    """


# Stale-index serving recall: top-10 served from the PRE-update cell
# assignments vs the fresh rebuild, scored over the SAME latest
# vectors (index postings go stale; the payload store is fresh — the
# realistic lag). The oracle re-derives both top-k lists from the two
# persisted indexes + the persisted probe table, with the latest
# vector re-derived in SQL (updated ids = list_reverse of the stored
# embedding, the md5 'ivfupd' formula), ranks by the exact-integer
# micro score (det_micro is a monotone bijection of det_round(6), so
# the order matches the Spark side's det_round ranking), and reduces
# to the overlap census.
_STALE_COS = _det_micro_sql(
    "list_dot_product(qe.v, ce.v)"
    " / nullif(sqrt(list_dot_product(qe.v, qe.v))"
    " * sqrt(list_dot_product(ce.v, ce.v)), 0)",
    6,
)
ORACLES["ann_stale_serving_recall"] = f"""
    WITH e AS (
        SELECT vec_id,
               CASE WHEN CAST((instr('0123456789abcdef',
                         substr(md5(CAST(vec_id AS VARCHAR) || 'ivfupd'),
                                1, 1)) - 1) * 16
                    + (instr('0123456789abcdef',
                             substr(md5(CAST(vec_id AS VARCHAR) || 'ivfupd'),
                                    2, 1)) - 1) AS BIGINT) < 64
                    THEN list_reverse(CAST(embedding AS DOUBLE[]))
                    ELSE CAST(embedding AS DOUBLE[]) END AS v
        FROM embeddings
    ),
    si AS (SELECT * FROM '{_AUX_DIR}/stale_v1_index/*.parquet'),
    fi AS (SELECT * FROM '{_AUX_DIR}/stale_fresh_index/*.parquet'),
    pb AS (SELECT * FROM '{_AUX_DIR}/stale_probes/*.parquet'),
    ts AS (
        SELECT query_id, neighbor_id FROM (
            SELECT c.query_id, c.neighbor_id,
                   row_number() OVER (
                       PARTITION BY c.query_id
                       ORDER BY {_STALE_COS} DESC,
                                c.neighbor_id
                   ) AS rnk
            FROM (SELECT pb.query_id, si.id AS neighbor_id
                  FROM si JOIN pb USING (cell)
                  WHERE si.id <> pb.query_id) c
            JOIN e qe ON qe.vec_id = c.query_id
            JOIN e ce ON ce.vec_id = c.neighbor_id
        ) WHERE rnk <= 10
    ),
    tf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT c.query_id, c.neighbor_id,
                   row_number() OVER (
                       PARTITION BY c.query_id
                       ORDER BY {_STALE_COS} DESC,
                                c.neighbor_id
                   ) AS rnk
            FROM (SELECT pb.query_id, fi.id AS neighbor_id
                  FROM fi JOIN pb USING (cell)
                  WHERE fi.id <> pb.query_id) c
            JOIN e qe ON qe.vec_id = c.query_id
            JOIN e ce ON ce.vec_id = c.neighbor_id
        ) WHERE rnk <= 10
    ),
    ov AS (
        SELECT q.query_id,
               CAST(coalesce(o.n, 0) AS BIGINT) AS n_overlap,
               (SELECT CAST(count(*) AS BIGINT) FROM tf
                 WHERE tf.query_id = q.query_id) AS n_fresh
        FROM (SELECT DISTINCT query_id FROM pb) q
        LEFT JOIN (SELECT ts.query_id, count(*) AS n
                   FROM ts JOIN tf USING (query_id, neighbor_id)
                   GROUP BY 1) o ON o.query_id = q.query_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(n_fresh) AS BIGINT) AS n_fresh_results,
           CAST(sum(n_overlap) AS BIGINT) AS n_overlap_results,
           CAST(sum(CASE WHEN n_overlap = n_fresh THEN 1 ELSE 0 END)
                AS BIGINT) AS n_queries_unchanged,
           CAST(sum(n_overlap) * 1000000
                // nullif(sum(n_fresh), 0) AS BIGINT) AS overlap_ppm
    FROM ov
    """


# --- round 14 ----------------------------------------------------------------

# Incremental near-dup cluster maintenance: the Spark leg computes
# base clusters (md5 'clmaint' bucket >= 32), then merges the delta
# batch through the CONTRACTED graph (base components collapsed to
# their min-id labels, only delta-incident Jaccard pairs ever scored)
# — while this oracle brute-force recomputes BOTH closures over the
# whole corpus: the full base∪delta components (truth for cluster_id)
# and the base-only components (truth for the starting state
# base_cluster_id). A hash match therefore proves incremental merge ==
# full recompute, label for label, and that the state it started from
# was itself correct. Same edge rule as dedup_clusters: (lang, source)
# blocks, distinct-token Jaccard det-rounded to 4dp, threshold 0.5.
ORACLES["near_dup_cluster_maintain"] = f"""
    WITH RECURSIVE t AS (
        SELECT doc_id, lang, source, list_distinct({_TOKS}) AS toks,
               len(list_distinct({_TOKS})) AS n_toks,
               CASE WHEN {_b256("clmaint")} < 32 THEN 1 ELSE 0 END AS is_delta
        FROM documents
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               {_dr_top("(len(list_intersect(a.toks, b.toks)) / nullif(CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 0))", 4)} AS jaccard
        FROM t a JOIN t b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         AND b.n_toks >= ceil(a.n_toks * 0.5) AND a.n_toks >= ceil(b.n_toks * 0.5)
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs WHERE jaccard >= 0.5
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs WHERE jaccard >= 0.5
    ), reach(id, r) AS (
        SELECT doc_id, doc_id FROM t
        UNION
        SELECT e.dst, reach.r FROM edges e JOIN reach ON reach.id = e.src
    ), final AS (
        SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
    ), bedges AS (
        SELECT e.src, e.dst FROM edges e
        JOIN t a ON a.doc_id = e.src JOIN t b ON b.doc_id = e.dst
        WHERE a.is_delta = 0 AND b.is_delta = 0
    ), breach(id, r) AS (
        SELECT doc_id, doc_id FROM t WHERE is_delta = 0
        UNION
        SELECT e.dst, breach.r FROM bedges e JOIN breach ON breach.id = e.src
    ), bfinal AS (
        SELECT id, min(r) AS base_cluster_id FROM breach GROUP BY id
    )
    SELECT t.doc_id,
           CAST(t.is_delta AS INT) AS is_delta,
           CAST(coalesce(bfinal.base_cluster_id, -1) AS BIGINT)
               AS base_cluster_id,
           CAST(final.cluster_id AS BIGINT) AS cluster_id
    FROM t
    JOIN final ON final.id = t.doc_id
    LEFT JOIN bfinal ON bfinal.id = t.doc_id
    """


# IVF index-degradation / re-train criterion: the build→upsert→serve→
# rebuild lifecycle readout (VERDICT r13 task 7a). Waves of accumulated
# upserts (cumulative md5-'ivfupd' bucket prefixes 22/43/64 of 256 —
# wave 3 IS streaming_ivf_upsert_reassign's final state) re-assign
# vectors to cells; per wave the oracle re-derives cell balance from
# the TWO persisted quantizations (original + re-embedded) — the sweep
# never re-runs the quantizer, each wave is a conditional select over
# one joined frame. imbalance_ppm = max_cell * n_cells(=16) * 1e6 /
# n_total (perfect balance = 1e6); rebuild_flag fires when a wave's
# imbalance exceeds the wave-0 baseline by >25% (integer cross-product
# compare, no float policy constant).
ORACLES["ivf_retrain_criterion"] = f"""
    WITH i1 AS (SELECT * FROM '{_AUX_DIR}/ivfretrain_v1/*.parquet'),
    i2 AS (SELECT * FROM '{_AUX_DIR}/ivfretrain_v2/*.parquet'),
    j AS (
        SELECT i1.id, i1.cell AS c1, i2.cell AS c2,
               CAST((instr('0123456789abcdef',
                           substr(md5(CAST(i1.id AS VARCHAR) || 'ivfupd'),
                                  1, 1)) - 1) * 16
                    + (instr('0123456789abcdef',
                             substr(md5(CAST(i1.id AS VARCHAR) || 'ivfupd'),
                                    2, 1)) - 1) AS BIGINT) AS bkt
        FROM i1 LEFT JOIN i2 ON i2.id = i1.id
    ),
    w AS (SELECT * FROM (VALUES (0, 0), (1, 22), (2, 43), (3, 64))
          AS w(wave, thresh)),
    wc AS (
        SELECT w.wave, w.thresh,
               CASE WHEN j.bkt < w.thresh THEN coalesce(j.c2, j.c1)
                    ELSE j.c1 END AS cell,
               CASE WHEN j.bkt < w.thresh THEN 1 ELSE 0 END AS upd,
               CASE WHEN j.bkt < w.thresh AND j.c2 <> j.c1 THEN 1 ELSE 0 END
                   AS moved
        FROM w CROSS JOIN j
    ),
    pc AS (
        SELECT wave, thresh, cell,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(upd) AS BIGINT) AS n_upd,
               CAST(sum(moved) AS BIGINT) AS n_mv
        FROM wc GROUP BY 1, 2, 3
    ),
    agg AS (
        SELECT wave, thresh,
               CAST(sum(n) AS BIGINT) AS n_total,
               CAST(sum(n_upd) AS BIGINT) AS n_updated,
               CAST(sum(n_mv) AS BIGINT) AS n_moved,
               CAST(max(n) AS BIGINT) AS max_cell_n
        FROM pc GROUP BY 1, 2
    ),
    m AS (
        SELECT wave, thresh, n_total, n_updated, n_moved, max_cell_n,
               CAST(max_cell_n * 16 * 1000000 // n_total AS BIGINT)
                   AS imbalance_ppm,
               CAST(coalesce(n_moved * 1000000 // nullif(n_updated, 0), -1)
                    AS BIGINT) AS moved_ppm
        FROM agg
    ),
    b AS (SELECT imbalance_ppm AS imb0 FROM m WHERE wave = 0)
    SELECT CAST(m.wave AS BIGINT) AS wave,
           CAST(m.thresh AS BIGINT) AS thresh,
           m.n_total, m.n_updated, m.n_moved, m.max_cell_n,
           m.imbalance_ppm, m.moved_ppm,
           CAST(CASE WHEN m.imbalance_ppm * 100 > b.imb0 * 125
                     THEN 1 ELSE 0 END AS INT) AS rebuild_flag
    FROM m CROSS JOIN b
    """


# Cross-modal purge Pareto: the phash_purge_pareto cost model joined
# with the semantic near-dup flag (VERDICT r13 task 7c) — four purge
# POLICIES (image-only at hamming<=4, semantic-only at cos>=0.30
# within the doc's IVF cell against lower ids, union, intersect), each
# priced in docs and decoded pixel bytes from ONE per-doc flag frame.
# Image leg re-derives hashes from the pixel-formula bits CTE with the
# within-class min CAPPED at 7 (the phash_purge_pareto structural cap);
# semantic leg re-derives from the persisted xpurge index + raw
# embeddings through the shared qe/te exact-micro cosine. Keep-lowest-
# id on BOTH modalities, so every policy is a deterministic greedy
# canonicalization.
ORACLES["crossmodal_purge_pareto"] = f"""
    WITH {_PHASH_BITS_CTES},
    fh AS (
        SELECT b.doc_id,
               min(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)))
                   AS first_h
        FROM bits a
        JOIN bits b ON a.width = b.width AND a.height = b.height
                   AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 7
        GROUP BY 1
    ),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    idx AS (SELECT * FROM '{_AUX_DIR}/xpurge_index/*.parquet'),
    sem AS (
        SELECT DISTINCT a.id AS doc_id
        FROM idx a JOIN idx b ON b.cell = a.cell AND b.id < a.id
        JOIN e qe ON qe.vec_id = a.id
        JOIN e te ON te.vec_id = b.id
        WHERE {_COS_MICRO} >= 300000
    ),
    fl AS (
        SELECT bits.doc_id, bits.width, bits.height,
               CASE WHEN fh.first_h <= 4 THEN 1 ELSE 0 END AS f_img,
               CASE WHEN sem.doc_id IS NOT NULL THEN 1 ELSE 0 END AS f_sem
        FROM bits
        LEFT JOIN fh ON fh.doc_id = bits.doc_id
        LEFT JOIN sem ON sem.doc_id = bits.doc_id
    ),
    p AS (SELECT * FROM (VALUES ('image_only'), ('semantic_only'),
                                ('union'), ('intersect')) AS p(policy)),
    h AS (
        SELECT p.policy, fl.width, fl.height,
               CASE p.policy
                    WHEN 'image_only' THEN fl.f_img
                    WHEN 'semantic_only' THEN fl.f_sem
                    WHEN 'union' THEN greatest(fl.f_img, fl.f_sem)
                    ELSE least(fl.f_img, fl.f_sem) END AS hit
        FROM p CROSS JOIN fl
    )
    SELECT policy,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(width * height * 3) AS BIGINT) AS total_pixel_bytes,
           CAST(coalesce(sum(hit), 0) AS BIGINT) AS n_purged,
           CAST(coalesce(sum(CASE WHEN hit = 1 THEN width * height * 3
                                  ELSE 0 END), 0) AS BIGINT)
               AS purged_pixel_bytes,
           CAST(sum(hit) * 1000000 // count(*) AS BIGINT) AS purged_ppm
    FROM h GROUP BY 1
    """


# Streaming near-dup cluster maintenance: three md5-'clstream' batches
# of documents replayed through a foreachBatch incremental_clusters
# merge (first batch bootstraps, later batches contract the standing
# labels and score only batch-incident pairs). The oracle is ONE full
# recursive transitive closure over all documents — a hash match
# proves the streamed, order-dependent merge converged to exactly the
# batch recompute, which the contraction argument guarantees for ANY
# batch split (associativity at the cluster level).
ORACLES["streaming_cluster_maintain"] = f"""
    WITH RECURSIVE t AS (
        SELECT doc_id, lang, source, list_distinct({_TOKS}) AS toks,
               len(list_distinct({_TOKS})) AS n_toks,
               {_b256("clstream")} AS b
        FROM documents
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               {_dr_top("(len(list_intersect(a.toks, b.toks)) / nullif(CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE), 0))", 4)} AS jaccard
        FROM t a JOIN t b
          ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         AND b.n_toks >= ceil(a.n_toks * 0.5) AND a.n_toks >= ceil(b.n_toks * 0.5)
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs WHERE jaccard >= 0.5
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs WHERE jaccard >= 0.5
    ), reach(id, r) AS (
        SELECT doc_id, doc_id FROM t
        UNION
        SELECT e.dst, reach.r FROM edges e JOIN reach ON reach.id = e.src
    ), final AS (
        SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
    )
    SELECT t.doc_id,
           CAST(CASE WHEN t.b < 85 THEN 0 WHEN t.b < 170 THEN 1 ELSE 2 END
                AS INT) AS arrival_batch,
           CAST(final.cluster_id AS BIGINT) AS cluster_id
    FROM t JOIN final ON final.id = t.doc_id
    """


# IVF rebuild execution: after ivf_retrain_criterion fires, ONE
# k-means step re-trains the coarse quantizer from the degraded
# assignment — centroids are per-cell integer-code sums (globally-
# scaled int8 codes, the quantized_centroid_profile convention:
# every SUM is an order-free exact integer), scoring is
# exact-integer dot / member count (both engines: exact ints < 2^53
# through ONE IEEE division each — bit-identical doubles), argmax
# ties break to the lowest cell. The oracle re-derives the centroids
# from the persisted code table + degraded index and re-runs the
# 16-cell argmax relationally; the Spark leg scores via one Arrow
# matmul. Output: per-(phase, cell) membership census before and
# after the rebuild.
ORACLES["ivf_rebuild_execute"] = f"""
    WITH deg AS (SELECT * FROM '{_AUX_DIR}/rebuild_degraded_index/*.parquet'),
    cd AS (SELECT * FROM '{_AUX_DIR}/rebuild_codes/*.parquet'),
    x AS (
        SELECT deg.cell, d.i AS dim, cd.codes[d.i + 1] AS code
        FROM deg JOIN cd ON cd.vec_id = deg.id,
             (SELECT unnest(range(0, 64)) AS i) d
    ),
    cent AS (
        SELECT cell, dim, CAST(sum(code) AS BIGINT) AS s
        FROM x GROUP BY 1, 2
    ),
    cvec AS (
        SELECT cell, list(s ORDER BY dim) AS sums
        FROM cent GROUP BY 1
    ),
    cn AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM deg GROUP BY 1),
    scored AS (
        SELECT cd.vec_id, cvec.cell,
               list_dot_product(CAST(cd.codes AS DOUBLE[]),
                                CAST(cvec.sums AS DOUBLE[]))
                   / CAST(cn.n AS DOUBLE) AS score
        FROM cd CROSS JOIN cvec JOIN cn ON cn.cell = cvec.cell
    ),
    re AS (
        SELECT vec_id, cell
        FROM (SELECT vec_id, cell,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY score DESC, cell ASC) AS rk
              FROM scored)
        WHERE rk = 1
    )
    SELECT 'degraded' AS phase, cell,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(id) AS BIGINT) AS id_sum
    FROM deg GROUP BY 2
    UNION ALL
    SELECT 'retrained' AS phase, cell,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(vec_id) AS BIGINT) AS id_sum
    FROM re GROUP BY 2
    """
