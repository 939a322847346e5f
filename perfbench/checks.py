"""Output checks: Spark results against DuckDB twins over the same files.

The comparison is the one ``scripts/driver_sim.py`` makes, with its
``norm``: equal column-name sets and equal order-insensitive multisets
of stringified rows.
"""

from __future__ import annotations

import duckdb

from dend_covid19_spark.catalog import TABLE_NAMES
from scripts.driver_sim import norm


def _multiset(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


class Oracle:
    """DuckDB connection with one view per input table."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        for t in TABLE_NAMES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def query(self, sql: str) -> tuple[list[str], list[tuple]]:
        rel = self.con.execute(sql)
        return [d[0] for d in rel.description], rel.fetchall()

    def compare(self, cols: list[str], rows, sql: str) -> str | None:
        """None when Spark's (cols, rows) equal the twin's; else a reason."""
        dcols, drows = self.query(sql)
        if sorted(cols) != sorted(dcols):
            return f"columns spark={sorted(cols)} duckdb={sorted(dcols)}"
        if len(rows) != len(drows):
            return f"row count spark={len(rows)} duckdb={len(drows)}"
        for a, b in zip(_multiset(cols, rows), _multiset(dcols, drows)):
            if a != b:
                return f"first differing row spark={a} duckdb={b}"
        return None

    def close(self) -> None:
        self.con.close()


def same_rows(cols_a: list[str], rows_a, cols_b: list[str], rows_b) -> bool:
    return sorted(cols_a) == sorted(cols_b) and _multiset(cols_a, rows_a) == _multiset(
        cols_b, rows_b
    )


def serving_oracle(sentiment_cte: str, dates, indices, market_value) -> dict[str, str]:
    """DuckDB twins of the two serving tables and of ``flagship_join``
    after a backfill over ``dates`` x ``indices``: the
    ``serving_tables_roundtrip`` oracle widened to the whole window.
    ``market_value(index, date)`` is the connector's deterministic value."""
    market = ", ".join(
        f"('{d}', '{ix}', {market_value(ix, d)})" for d in dates for ix in indices
    )
    days = ", ".join(f"('{d}')" for d in dates)
    hist = f"""
    WITH {sentiment_cte},
    hist AS (
        SELECT
            CAST(coalesce(sum(CASE WHEN overall_sentiment = 'positive' THEN 1 END), 0) AS INTEGER) AS positive_count,
            CAST(coalesce(sum(CASE WHEN overall_sentiment = 'negative' THEN 1 END), 0) AS INTEGER) AS negative_count,
            CAST(coalesce(sum(CASE WHEN overall_sentiment = 'na' THEN 1 END), 0) AS INTEGER) AS na_count
        FROM labeled
        WHERE lang = 'en' AND NOT text LIKE 'the %'
    ),
    days(d) AS (VALUES {days}),
    market(d, ix, value) AS (VALUES {market})"""
    return {
        "tweets_sentiment": f"""{hist}
        SELECT d || '(en)' AS tweets_sentiment_id,
               CAST(CAST(d AS DATE) AS TIMESTAMP) AS date,
               CAST(year(CAST(d AS DATE)) AS SMALLINT) AS year,
               CAST(month(CAST(d AS DATE)) AS SMALLINT) AS month,
               CAST(day(CAST(d AS DATE)) AS SMALLINT) AS day,
               'en' AS language,
               positive_count, negative_count, na_count
        FROM days CROSS JOIN hist""",
        "markets_value": f"""{hist}
        SELECT d || '(' || ix || ')' AS markets_value_id,
               CAST(CAST(d AS DATE) AS TIMESTAMP) AS date,
               CAST(year(CAST(d AS DATE)) AS SMALLINT) AS year,
               CAST(month(CAST(d AS DATE)) AS SMALLINT) AS month,
               CAST(day(CAST(d AS DATE)) AS SMALLINT) AS day,
               ix AS index,
               CAST(value AS FLOAT) AS value
        FROM market""",
        "flagship_join": f"""{hist}
        SELECT CAST(CAST(d AS DATE) AS TIMESTAMP) AS date, ix AS index,
               CAST(value AS FLOAT) AS value, positive_count, negative_count
        FROM market CROSS JOIN hist""",
    }
