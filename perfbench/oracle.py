"""Output checks: every op's check-pass output against a DuckDB oracle.

* ``key:<name>`` ops use the engine's own oracle SQL for that key
  (graft.SparkEntry.oracleSql) over the same parquet tables.
* The mart ops use the SQL below over the same Book Orders TSVs: the
  raw, mart and view formulations of one question share one oracle (so
  raw = mart = view), and every delta round's read is compared with a
  full recompute over the base orders plus all deltas so far (so
  incremental refresh = full recompute).

Oracle answers depend only on the inputs and the SQL text, so they are
cached as parquet under (input hash, check, SQL hash).
"""
import hashlib
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# graft.bookorders.Model in DuckDB types
BOOKORDERS = {
    "customer": {"customerid": "INTEGER", "l_name": "VARCHAR", "f_name": "VARCHAR",
                 "city": "VARCHAR", "district": "VARCHAR", "country": "VARCHAR"},
    "book": {"isbn": "INTEGER", "title": "VARCHAR", "edition_no": "SMALLINT",
             "price": "DECIMAL(6,2)"},
    "cust_order": {"orderid": "INTEGER", "orderdate": "DATE", "customerid": "INTEGER"},
    "order_detail": {"orderid": "INTEGER", "item_no": "SMALLINT", "isbn": "INTEGER",
                     "quantity": "SMALLINT"},
}

# customer after the mart's three cleanup updates
CLEAN_CUSTOMER = """
SELECT customerid, l_name, f_name,
       CASE WHEN city = 'Sidney' THEN 'Sydney' ELSE city END AS city,
       CASE WHEN customerid = 96 THEN 'Povardarje'
            WHEN customerid = 100 THEN 'Budapest' ELSE district END AS district,
       country
FROM customer_raw"""

SALES = """
WITH lines AS (
  SELECT o.customerid, o.orderdate, d.isbn, d.quantity * b.price AS amount
  FROM order_detail d JOIN cust_order o USING (orderid) JOIN book b USING (isbn))
SELECT l.customerid, t.timeid, l.orderdate, l.isbn,
       CAST(sum(l.amount) AS DECIMAL(6,2)) AS amnt
FROM lines l JOIN customer USING (customerid) JOIN time t USING (orderdate)
GROUP BY ALL"""

MART_SQL = {
    "q4a": """
SELECT customerid AS customer_id, min(f_name) AS first_name,
       min(l_name) AS last_name, CAST(sum(amnt) AS DECIMAL(16,2)) AS spending
FROM sales JOIN customer USING (customerid)
GROUP BY customerid ORDER BY spending DESC, customer_id LIMIT 5""",
    "q4b": """
SELECT country, CAST(sum(amnt) AS DECIMAL(16,2)) AS spending
FROM sales JOIN customer USING (customerid)
GROUP BY country ORDER BY spending DESC, country LIMIT 1""",
    "q5b": """
SELECT city, timeid, orderdate AS day, sumspending,
       sum(sumspending) OVER (PARTITION BY city ORDER BY timeid) AS cumulative_sum
FROM (SELECT city, timeid, orderdate, sum(amnt) AS sumspending
      FROM sales JOIN customer USING (customerid)
      WHERE year(orderdate) = 2017 AND month(orderdate) IN (4, 5)
      GROUP BY ALL)""",
    "etl": """
SELECT * FROM (VALUES
  ('time', (SELECT count(*) FROM time)),
  ('sales', (SELECT count(*) FROM sales)),
  ('View1', (SELECT count(*) FROM sales)),
  ('amount_per_order', (SELECT count(DISTINCT orderid)
                        FROM order_detail JOIN book USING (isbn)))) t(mv, rows)""",
    "mv": """
SELECT city, orderdate, sum(amount) AS sumspending, count(*) AS lines
FROM all_lines JOIN customer USING (customerid) GROUP BY ALL""",
}
MART_SQL["delta"] = f"""
SELECT city, orderdate, sumspending, lines,
       sum(sumspending) OVER (PARTITION BY city ORDER BY orderdate) AS cumulative_sum
FROM ({MART_SQL["mv"]})"""


def connect(tmp: Path):
    con = duckdb.connect()
    tmp.mkdir(parents=True, exist_ok=True)
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '3GB'")
    return con


def register_tables(con, tables: Path):
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{tables}/{t}.parquet/*.parquet')")


def _tsv(path, name):
    return (f"read_csv('{path}', delim='\t', header=false, nullstr='\\N', "
            f"columns={BOOKORDERS[name]!r})")


def register_bookorders(con, d: Path, upto_round: int):
    for name in BOOKORDERS:
        target = "customer_raw" if name == "customer" else name
        con.execute(f"CREATE OR REPLACE VIEW {target} AS "
                    f"SELECT * FROM {_tsv(d / f'{name}.tsv', name)}")
    con.execute(f"CREATE OR REPLACE VIEW customer AS {CLEAN_CUSTOMER}")
    con.execute("CREATE OR REPLACE VIEW time AS SELECT orderdate, "
                "row_number() OVER (ORDER BY orderdate) AS timeid "
                "FROM (SELECT DISTINCT orderdate FROM cust_order)")
    con.execute(f"CREATE OR REPLACE VIEW sales AS {SALES}")
    parts = ["SELECT * FROM cust_order"] + [
        f"SELECT * FROM {_tsv(d / f'delta_{k}' / 'cust_order.tsv', 'cust_order')}"
        for k in range(1, upto_round + 1)]
    details = ["SELECT * FROM order_detail"] + [
        f"SELECT * FROM {_tsv(d / f'delta_{k}' / 'order_detail.tsv', 'order_detail')}"
        for k in range(1, upto_round + 1)]
    con.execute(f"""CREATE OR REPLACE VIEW all_lines AS
        SELECT o.customerid, o.orderdate, d.quantity * b.price AS amount
        FROM ({' UNION ALL '.join(details)}) d
        JOIN ({' UNION ALL '.join(parts)}) o USING (orderid) JOIN book b USING (isbn)""")


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def same(got: pd.DataFrame, want: pd.DataFrame):
    """None when equal as row sets (column order ignored), else a reason."""
    got, want = norm(got), norm(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        try:
            eq = (a == b) | (a.isna() & b.isna())
        except Exception:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            i = (~eq).idxmax()
            return f"{c}[row {i}]: {a[i]!r} != {b[i]!r} ({int((~eq).sum())} cells)"
    return None


def check_all(record, check_dir: Path, tables: Path, bookorders, input_hash: str,
              cache: Path, tmp: Path):
    """{op name: None if its check-pass output matches, else the reason}."""
    con = connect(tmp)
    register_tables(con, tables)
    cache.mkdir(parents=True, exist_ok=True)
    check_results = {o["name"]: o for o in record["passes"][0]["ops"]}
    out = {}
    for op in record["ops"]:
        name, check = op["name"], op["check"]
        res = check_results[name]
        if not res["ok"]:
            out[name] = f"failed: {res['err']}"
            continue
        if check.startswith("key:"):
            sql = record["oracle_sql"].get(check[4:])
            if sql is None:
                out[name] = "no oracle SQL for this key"
                continue
        else:
            kind, _, k = check.partition(":")
            register_bookorders(con, Path(bookorders), int(k or 0))
            sql = MART_SQL[kind]
            if kind == "delta" and res["plan"].get("mv_scans", 0) < 1:
                out[name] = "read was not answered from the materialized view"
                continue
        h = hashlib.sha256(sql.encode()).hexdigest()[:12]
        cached = cache / f"{input_hash}-{check.replace(':', '_')}-{h}.parquet"
        try:
            if not cached.exists():
                part = cached.with_suffix(".part")
                con.execute(f"COPY ({sql}) TO '{part}' (FORMAT parquet)")
                part.rename(cached)
            want = con.execute(f"SELECT * FROM read_parquet('{cached}')").df()
            got = con.execute(
                f"SELECT * FROM read_parquet('{check_dir / name}/*.parquet')").df()
            if check == "etl":  # the oracle covers a subset of the views
                got = got[got["mv"].isin(set(want["mv"]))]
            out[name] = same(got, want)
        except Exception as e:  # an oracle or read error is a failed check
            out[name] = f"{type(e).__name__}: {e}"[:300]
    con.close()
    return out
