"""Off-clock output checks in DuckDB.

Both workloads' references are built from the engine's own DuckDB twins of
its source views (``sequences_sql``/``labels_sql``), plus SQL for the two
rules, the backward as-of join and the window bundle: an independent full
recompute. Outputs are compared as multisets of canonical rows, so
partitioning and row order do not matter.
"""

from __future__ import annotations

import duckdb

from go_html_transform_spark.sources import tables as S

# One canonical row per output row. Doubles are rounded so that the two
# engines' summation order cannot show as a difference, and every column is
# cast to one type so that equal rows hash alike on both sides.
CANONICAL = """
    CAST(event_id AS BIGINT) AS event_id, CAST(doc_id AS VARCHAR) AS doc_id,
    epoch_us(event_time) AS t, array_to_string(tokens, ',') AS toks,
    CAST(n_tok AS BIGINT) AS n_tok, CAST(source AS VARCHAR) AS source,
    ROUND(value, 4) AS v, ROUND(label_value, 4) AS lv,
    CAST(n_tok_lag1 AS BIGINT) AS n_tok_lag1, ROUND(value_lag1, 4) AS vl1,
    CAST(n_tok_rsum3 AS BIGINT) AS n_tok_rsum3, ROUND(n_tok_rmean3, 6) AS rm3,
    CAST(session_id AS BIGINT) AS session_id, ROUND(value_ffill, 4) AS vff,
    CAST(event_seq AS BIGINT) AS event_seq
"""


def connect(spill_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{spill_dir}'")
    return con


def features_sql(src_dirs: list[str], rules: bool) -> str:
    """The feature bundle in DuckDB over the events of ``src_dirs`` and the
    documents of the first: backward as-of label, then ``add_features``.
    With ``rules``, first rule ``t982`` appends 1023 and then rule
    ``t756 > t982`` (token 982 right after 756) maps 756 to 757 in the
    matched rows, as in the feature_pipeline workload."""
    events = ", ".join(f"'{d}/events.parquet'" for d in src_dirs)
    tokens = "tokens"
    if rules:
        tokens = "CASE WHEN list_contains(tokens, 982) THEN list_append(tokens, 1023) ELSE tokens END"
        tokens = f"""CASE WHEN ',' || array_to_string({tokens}, ',') || ',' LIKE '%,756,982,%'
                     THEN list_transform({tokens}, x -> CASE WHEN x = 756 THEN 757 ELSE x END)
                     ELSE {tokens} END"""
    return f"""
        WITH events AS (SELECT * FROM read_parquet([{events}])),
             documents AS (SELECT * FROM read_parquet('{src_dirs[0]}/documents.parquet')),
             seq AS ({S.sequences_sql(src_dirs[0])}),
             lab AS ({S.labels_sql(src_dirs[0])}),
             labd AS (SELECT doc_id, obs_time, MAX(label_value) AS label_value
                      FROM lab GROUP BY doc_id, obs_time),
             ruled AS (SELECT doc_id, event_time, event_id, source, value, {tokens} AS tokens
                       FROM seq),
             joined AS (SELECT r.*, CAST(len(r.tokens) AS INTEGER) AS n_tok, l.label_value
                        FROM ruled r ASOF LEFT JOIN labd l
                          ON r.doc_id = l.doc_id AND r.event_time >= l.obs_time),
             gaps AS (SELECT *, lag(epoch_us(event_time)) OVER w AS prev_t
                      FROM joined WINDOW w AS (PARTITION BY doc_id ORDER BY event_time))
        SELECT doc_id, event_time, event_id, tokens, n_tok, source, value, label_value,
               lag(n_tok) OVER w AS n_tok_lag1,
               lag(value) OVER w AS value_lag1,
               SUM(n_tok) OVER (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS n_tok_rsum3,
               AVG(n_tok) OVER (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS n_tok_rmean3,
               SUM(CASE WHEN prev_t IS NULL OR epoch_us(event_time) - prev_t > 1800 * 1000000
                        THEN 1 ELSE 0 END)
                   OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id,
               last_value(value IGNORE NULLS)
                   OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
               row_number() OVER w AS event_seq
        FROM gaps
        WINDOW w AS (PARTITION BY doc_id ORDER BY event_time)
    """


def parquet_rel(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet')"


def load_expected(con, table: str, sql: str) -> tuple:
    """Materialise the canonical rows of a reference relation once, and
    return their digest."""
    con.execute(f"CREATE OR REPLACE TABLE {table} AS SELECT {CANONICAL} FROM ({sql})")
    return _digest(con, table)


def _digest(con, rel: str) -> tuple:
    """Order-free digest of a relation: its row count and the sum of its
    row hashes."""
    return con.execute(f"SELECT count(*), sum(hash(r)::HUGEINT) FROM {rel} r").fetchone()


def mismatch_rows(con, expected_table: str, expected_digest: tuple, actual_sql: str) -> int:
    """Rows in either relation that the other lacks (multiset difference,
    both directions). Equal digests mean equal multisets, short of a hash
    collision, and skip the diff."""
    actual = f"(SELECT {CANONICAL} FROM ({actual_sql}))"
    if _digest(con, actual) == expected_digest:
        return 0
    q = f"""
        WITH a AS (SELECT {CANONICAL} FROM ({actual_sql}))
        SELECT (SELECT count(*) FROM (SELECT * FROM {expected_table} EXCEPT ALL SELECT * FROM a))
             + (SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM {expected_table}))
    """
    return int(con.execute(q).fetchone()[0])
