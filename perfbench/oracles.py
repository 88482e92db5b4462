"""Expected answers, computed in DuckDB outside every timed region.

* Query answers: each registered query's DuckDB oracle, materialized
  through Arrow and canonicalized exactly as ``tools/driver_sim.py`` does,
  cached on disk per (tables, SQL) so later runs only read them back.
* ``gold_expected``: a digest of the medallion's gold star schema (row
  counts and measure sums per table), recomputed from the Olist-shaped
  CSVs with the silver cleansing rules written out in SQL.
* ``versioned_expected``: the versioned ``lineitem`` after the seed-keyed
  MERGEs, with the engine's copy-on-write semantics (a batch rewrites
  only the partitions it touches).
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import duckdb

from tools.driver_sim import canon, oracle_rows_arrow_path

# The engine's catalog.TABLES, repeated rather than imported so that importing
# the engine (and pyspark) stays inside the timed session.import_s.
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def connect_tables(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t + '.parquet')}'")
    return con


def canonical_rows(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Sorted column names and sorted canonical row tuples of a result."""
    cols = sorted(columns)
    return cols, sorted(tuple(canon(r[c]) for c in cols) for r in rows)


def query_answers(sf_dir: str, cache_dir: str, oracles: dict[str, str]) -> dict:
    """name -> (sorted column names, sorted canonical rows)."""
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    out = {}
    for name, sql in oracles.items():
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                cols, rows = json.load(fh)
        else:
            con = con or connect_tables(sf_dir)
            cols, rows = oracle_rows_arrow_path(con, sql)
            tmp = f"{path}.{os.getpid()}.tmp"
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump([cols, rows], fh)
            os.replace(tmp, path)
        out[name] = (sorted(cols), [tuple(r) for r in rows])
    return out


# --------------------------------------------------------------------------
# Medallion gold
# --------------------------------------------------------------------------

_DUCK_TYPES = {
    "StringType": "VARCHAR", "IntegerType": "INTEGER",
    "DoubleType": "DOUBLE", "TimestampType": "TIMESTAMP",
}

# The silver layer's survivors: one row per order for items, payments and
# reviews (an ordered pick, Spark's NULLS FIRST), then the filters.
_SILVER_SQL = r"""
SET default_null_order = 'nulls_first';
CREATE VIEW items_s AS SELECT * FROM order_items
  QUALIFY row_number() OVER (PARTITION BY order_id
                             ORDER BY order_item_id, product_id, seller_id) = 1;
CREATE VIEW pay_s AS SELECT * FROM (
  SELECT * FROM order_payments
  QUALIFY row_number() OVER (PARTITION BY order_id
                             ORDER BY payment_sequential, payment_type, payment_value) = 1)
  WHERE payment_type <> 'not_defined';
CREATE VIEW rev_s AS SELECT * FROM (
  SELECT * FROM order_reviews
  QUALIFY row_number() OVER (PARTITION BY order_id ORDER BY review_id) = 1)
  WHERE length(review_id) = 32 AND review_score BETWEEN 1 AND 5
    AND NOT regexp_matches(review_comment_message, '[^a-zA-Z0-9\s.,!?]')
    AND NOT regexp_matches(review_comment_title, '[^a-zA-Z0-9\s.,!?]')
    AND regexp_matches(review_creation_date, '^\d{4}-\d{2}-\d{2}');
CREATE VIEW pay_o AS SELECT order_id, sum(payment_value) AS value,
  sum(payment_installments) AS installments FROM pay_s GROUP BY order_id;
CREATE VIEW items_o AS SELECT order_id, sum(price) AS price FROM items_s GROUP BY order_id;
"""

# gold table -> (digest over the written table, the same digest from the CSVs)
GOLD_DIGEST = {
    "fact_sales": (
        "count(*), sum(Sales_Amount), sum(Freight_Value), sum(Order_Payment_Value)",
        "SELECT count(*), sum(i.price), sum(i.freight_value), sum(p.value) "
        "FROM items_s i JOIN orders USING (order_id) JOIN pay_o p USING (order_id)",
    ),
    "fact_orders": (
        "count(*), sum(Order_Items_Value), sum(Total_Payment_Value), sum(Total_Installments)",
        "SELECT count(*), sum(i.price), sum(p.value), sum(p.installments) "
        "FROM orders JOIN pay_o p USING (order_id) JOIN items_o i USING (order_id)",
    ),
    "fact_reviews": (
        "count(*), sum(Review_Score)",
        "SELECT count(*), sum(review_score) FROM rev_s JOIN orders USING (order_id)",
    ),
    "dim_date": (
        "count(*)",
        "SELECT date_diff('day', min(order_purchase_timestamp)::DATE, "
        "max(order_purchase_timestamp)::DATE) + 1 FROM orders",
    ),
    "dim_time": ("count(*)", "SELECT 24"),
    "dim_customers": ("count(*)", "SELECT count(*) FROM customers"),
    "dim_products": ("count(*)", "SELECT count(*) FROM products"),
    "dim_sellers": ("count(*)", "SELECT count(*) FROM sellers"),
    "dim_geography": (
        "count(*)", "SELECT count(DISTINCT geolocation_zip_code_prefix) FROM geolocation"
    ),
    "dim_order_status": ("count(*)", "SELECT count(DISTINCT order_status) FROM orders"),
    "dim_payment_types": ("count(*)", "SELECT count(DISTINCT payment_type) FROM pay_s"),
    "dim_review_scores": ("count(*)", "SELECT count(DISTINCT review_score) FROM rev_s"),
}


def connect_csvs(csv_dir: str, schemas: dict) -> duckdb.DuckDBPyConnection:
    """Connection with one view per Olist CSV, typed by the bronze
    ``schemas`` (name -> Spark StructType), and the silver views."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for name, schema in schemas.items():
        cols = ", ".join(
            f"'{f.name}': '{_DUCK_TYPES[type(f.dataType).__name__]}'" for f in schema.fields
        )
        path = os.path.join(csv_dir, f"{name}.csv")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_csv('{path}', header = true, "
            f"columns = {{{cols}}}, timestampformat = '%Y-%m-%d %H:%M:%S')"
        )
    con.execute(_SILVER_SQL)
    return con


def gold_expected(con: duckdb.DuckDBPyConnection) -> dict[str, tuple]:
    return {t: con.sql(sql).fetchone() for t, (_, sql) in GOLD_DIGEST.items()}


def gold_mismatch(gold_dir: str, expected: dict[str, tuple]) -> str | None:
    """Compare the written gold tables' digest with ``expected``: counts
    exactly, sums to a relative 1e-9 (summation order differs)."""
    con = duckdb.connect()
    bad = []
    for table, (digest, _) in GOLD_DIGEST.items():
        got = con.sql(
            f"SELECT {digest} FROM read_parquet('{os.path.join(gold_dir, table)}/**/*.parquet', "
            "hive_partitioning = true)"
        ).fetchone()
        want = expected[table]
        if got[0] != want[0] or not all(
            math.isclose(a or 0, b or 0, rel_tol=1e-9) for a, b in zip(got[1:], want[1:])
        ):
            bad.append(f"{table} {got} != {want}")
    return "; ".join(bad) or None


def table_counts(root: str, tables) -> dict[str, int]:
    """Rows of each parquet table directory ``root/<table>``."""
    con = duckdb.connect()
    return {
        t: con.sql(f"SELECT count(*) FROM '{os.path.join(root, t)}/**/*.parquet'").fetchone()[0]
        for t in tables
    }


# --------------------------------------------------------------------------
# Versioned lineitem
# --------------------------------------------------------------------------

MERGE_KEYS = ("l_orderkey", "l_linenumber")


def versioned_expected(lineitem_path: str, batches: list[str]) -> duckdb.DuckDBPyConnection:
    """Connection holding table ``expected``: ``lineitem`` after each batch
    replaced, within the partitions (``l_returnflag``) it touches, every
    row whose key it carries, then added its own rows."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE TABLE expected AS SELECT * FROM '{lineitem_path}'")
    keys = ", ".join(MERGE_KEYS)
    for path in batches:
        con.execute(f"CREATE OR REPLACE TEMP VIEW batch AS SELECT * FROM '{path}'")
        con.execute(f"""
            CREATE OR REPLACE TABLE expected AS
            SELECT * FROM expected
            WHERE l_returnflag NOT IN (SELECT l_returnflag FROM batch)
               OR ({keys}) NOT IN (SELECT ({keys}) FROM batch)
            UNION ALL BY NAME SELECT * FROM batch
        """)
    return con


def table_mismatch(con: duckdb.DuckDBPyConnection, got) -> str | None:
    """Compare the Arrow table ``got`` with ``expected`` as multisets."""
    cols = [c for c in con.table("expected").columns]
    if sorted(got.column_names) != sorted(cols):
        return f"columns {sorted(got.column_names)} != {sorted(cols)}"
    con.register("got", got)
    sel = ", ".join(
        f"CAST({c} AS TIMESTAMP) AS {c}" if c == "l_shipdate" else c for c in cols
    )
    extra = con.sql(
        f"SELECT count(*) FROM (SELECT {sel} FROM got EXCEPT ALL SELECT {sel} FROM expected)"
    ).fetchone()[0]
    missing = con.sql(
        f"SELECT count(*) FROM (SELECT {sel} FROM expected EXCEPT ALL SELECT {sel} FROM got)"
    ).fetchone()[0]
    con.unregister("got")
    if extra or missing:
        return f"{extra} unexpected rows, {missing} missing rows"
    return None
