"""Output checks of the benchmark, run outside the timed region.

etl_load: every pass loaded all four tables; the loaded row counts equal
an independent DuckDB count of the CSV rows that pass the reference
filters; the loaded orders have no order_total_consistency violation;
the customer-totals refresh is consistent with the completed orders; and
the three reports (Rules.report, Pipeline.analyticsReport,
Pipeline.pipelineStatus) match DuckDB over the written parquet.

report_queries, corpus_curation: each query result matches its
SparkEntry.oracleSql query run in DuckDB over the same parquet, compared
the way tools/check.py compares them (column names sorted, rows sorted,
cells equal); a query without an oracle must return rows.

`run` returns one line per wrong result; an empty list means correct.
"""
import glob
import math
import os

import duckdb
import pandas as pd

REL_TOL = 1e-9


def _frame(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            s = df[c]
            if getattr(s.dt, "tz", None) is None:
                s = s.dt.tz_localize("UTC")
            df[c] = s.dt.tz_convert("UTC").dt.tz_localize(None).astype("datetime64[ns]").astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _same(a, b, tol):
    if isinstance(a, float) or isinstance(b, float):
        if (a != a) or (b != b):
            return (a != a) and (b != b)
        if tol == 0.0:
            return a == b
        return math.isclose(float(a), float(b), rel_tol=tol, abs_tol=1e-9)
    return a == b


def compare(name, exp, got, tol):
    """None when equal, else a one-line description of the difference."""
    exp, got = _frame(exp), _frame(got)
    if list(exp.columns) != list(got.columns):
        return f"{name}: columns expected {list(exp.columns)} got {list(got.columns)}"
    if len(exp) != len(got):
        return f"{name}: rows expected {len(exp)} got {len(got)}"
    for c in exp.columns:
        for i in range(len(exp)):
            a, b = exp[c].iloc[i], got[c].iloc[i]
            if not _same(a, b, tol):
                return f"{name}: column {c} row {i}: expected {a!r} got {b!r}"
    return None


def _connect(work):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{work}/tmp'")
    con.execute("SET threads=4")
    # not UTC on purpose: the oracles must be time-zone free
    con.execute("SET TimeZone='Asia/Tokyo'")
    return con


def check_queries(res, work):
    c = res["checks"]
    con = _connect(work)
    for p in glob.glob(os.path.join(res["input_dir"], "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    wrong = []
    for q in c["queries"]:
        out = os.path.join(work, "check", q)
        if not os.path.isdir(out):
            wrong.append(f"{q}: no result written")
            continue
        got = pd.read_parquet(out)
        sql = c["oracles"].get(q)
        if sql is None:
            if len(got) == 0:
                wrong.append(f"{q}: no rows (query has no oracle)")
            continue
        try:
            exp = con.sql(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            wrong.append(f"{q}: oracle failed: {type(e).__name__}: {e}")
            continue
        d = compare(q, exp, got, 0.0)
        if d:
            wrong.append(d)
    return wrong


ETL_FILTERS = {
    "customers": "strpos(email, '@') > 0",
    "products": "CAST(unit_price AS DOUBLE) > 0 AND CAST(cost_price AS DOUBLE) > 0",
    "orders": """CAST(subtotal AS DOUBLE) >= 0 AND CAST(tax_amount AS DOUBLE) >= 0
      AND CAST(shipping_cost AS DOUBLE) >= 0 AND CAST(total_amount AS DOUBLE) >= 0
      AND abs(CAST(total_amount AS DOUBLE) - (CAST(subtotal AS DOUBLE) + CAST(tax_amount AS DOUBLE)
        + CAST(shipping_cost AS DOUBLE) - CAST(discount_amount AS DOUBLE))) < 0.01""",
    "order_items": """CAST(quantity AS BIGINT) > 0 AND CAST(unit_price AS DOUBLE) >= 0
      AND CAST(line_total AS DOUBLE) >= 0
      AND abs(CAST(line_total AS DOUBLE) - CAST(quantity AS BIGINT) * CAST(unit_price AS DOUBLE)
        * (1.0 - CAST(discount_percent AS DOUBLE) / 100.0)) < 0.01""",
}

ETL_REPORTS = {
    "rules_report": """
      SELECT 'customers' AS table_name, 'valid_email_format' AS rule,
             count(*) FILTER (WHERE NOT coalesce(contains(email, '@'), false)) AS violations
        FROM customers
      UNION ALL
      SELECT 'orders', 'no_future_order_dates',
             count(*) FILTER (WHERE CAST(order_date AS TIMESTAMP) > now()::TIMESTAMP) FROM orders
      UNION ALL
      SELECT 'orders', 'order_total_consistency',
             count(*) FILTER (WHERE abs(total_amount - (subtotal + tax_amount + shipping_cost
               - discount_amount)) > 0.01) FROM orders
      UNION ALL
      SELECT 'products', 'positive_profit_margin',
             count(*) FILTER (WHERE unit_price <= cost_price) FROM products""",
    "monthly_sales": """
      SELECT strftime(order_date, '%Y-%m') AS month, count(*) AS total_orders,
             sum(total_amount) AS total_revenue
        FROM orders WHERE order_status = 'Completed' GROUP BY 1""",
    "customer_segments": """
      SELECT customer_segment, count(*) AS customer_count, avg(total_spent) AS avg_spent,
             sum(total_spent) AS total_revenue
        FROM customers GROUP BY 1""",
    "top_products": """
      SELECT i.product_id, p.product_name, p.category, sum(i.quantity) AS total_sold,
             sum(i.line_total) AS total_revenue
        FROM order_items i
        JOIN (SELECT order_id FROM orders WHERE order_status = 'Completed') o USING (order_id)
        JOIN products p USING (product_id)
       GROUP BY 1, 2, 3 ORDER BY total_revenue DESC LIMIT 10""",
    "recent_runs": """
      SELECT * FROM etl_metadata WHERE etl_timestamp >= now() - INTERVAL 24 HOURS
       ORDER BY etl_timestamp DESC LIMIT 5""",
    "stats_24h": """
      SELECT avg(processing_time_seconds) AS avg_processing_time,
             sum(records_processed) AS total_records_processed,
             avg(data_quality_score) AS avg_quality_score, count(*) AS total_runs
        FROM etl_metadata WHERE etl_timestamp >= now() - INTERVAL 24 HOURS""",
}


def check_etl(res, work):
    c = res["checks"]
    wrong = []
    if any(n != 0 for n in c["tables_failed"]):
        wrong.append(f"Pipeline.run: tablesFailed per pass {c['tables_failed']}")
    con = _connect(work)
    for t in ("customers", "products", "orders", "order_items", "etl_metadata"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{c['load_dir']}/{t}.parquet/*.parquet')")
    for t, pred in ETL_FILTERS.items():
        csv = f"{res['input_dir']}/sample_{t}/*.csv"
        want = con.sql(f"SELECT count(*) FROM read_csv('{csv}', header=true, all_varchar=true) "
                       f"WHERE {pred}").fetchone()[0]
        got = con.sql(f"SELECT count(*) FROM {t}").fetchone()[0]
        if want != got:
            wrong.append(f"{t}: loaded {got} rows, reference filters keep {want}")
    bad = con.sql("SELECT count(*) FROM orders WHERE abs(total_amount - (subtotal + tax_amount "
                  "+ shipping_cost - discount_amount)) > 0.01").fetchone()[0]
    if bad:
        wrong.append(f"orders: {bad} order_total_consistency violations after the transform")
    # the refresh credits each loaded customer with its completed orders;
    # orders of customers the email filter dropped are credited to no one
    spent, completed, n_spent, n_completed = con.sql(
        "SELECT (SELECT sum(total_spent) FROM customers), "
        "(SELECT sum(total_amount) FROM orders JOIN customers USING (customer_id) "
        " WHERE order_status = 'Completed'), "
        "(SELECT sum(total_orders) FROM customers), "
        "(SELECT count(*) FROM orders JOIN customers USING (customer_id) "
        " WHERE order_status = 'Completed')").fetchone()
    if not math.isclose(spent, completed, rel_tol=REL_TOL) or n_spent != n_completed:
        wrong.append(f"customers.total_spent/total_orders sum to {spent}/{n_spent}, "
                     f"completed orders of loaded customers to {completed}/{n_completed}")
    for name, sql in ETL_REPORTS.items():
        got = pd.read_parquet(os.path.join(work, "check", name))
        d = compare(name, con.sql(sql).df(), got, REL_TOL)
        if d:
            wrong.append(d)
    return wrong


def inputs(res, work):
    """Rows and bytes of the workload's generated inputs."""
    con = _connect(work)
    d = res["input_dir"]
    if res["workload"] == "etl_load":
        rows = sum(con.sql(f"SELECT count(*) FROM read_csv('{d}/sample_{t}/*.csv', header=true, "
                           f"all_varchar=true)").fetchone()[0] for t in ETL_FILTERS)
    else:
        rows = sum(con.sql(f"SELECT count(*) FROM read_parquet('{d}/{t}.parquet')").fetchone()[0]
                   for t in res["input_tables"])
    size = sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)
    return rows, size


def run(res, work):
    if res["workload"] == "etl_load":
        return check_etl(res, work)
    return check_queries(res, work)
