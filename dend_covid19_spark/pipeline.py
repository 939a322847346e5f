"""The reference pipeline, end-to-end, as one parameterized driver
program (SURVEY.md §2.9 O1-O6 and §3 lifecycles).

Airflow DAG -> ordered function calls; templated execution date -> an
explicit ``date`` argument; Redshift serving tables -> Spark managed
tables; post-load SELECT gates -> operators/quality.py.

Differences from the reference, by design (SURVEY.md §3.1 'new-engine
shape'):
  - one lazy plan per side, ending in a write: no collect-then-pivot
    round-trip (tweets.py:64-77); the histogram is one global aggregate
    over a fixed class list (absent classes count 0 instead of KeyError);
  - the market side fetches all series then performs a single batched
    write (vs one INSERT per index, market.py:29-42);
  - the two sides run concurrently, as the reference DAG fans them out
    (tweets_and_market.py:97-104), and each side's quality gate reads
    counts observed during its own write instead of re-scanning the
    serving table (the table is scanned only when the write held no
    matching row).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .functions.annotator import annotate_sentiment
from .operators.quality import (
    DataQualityError,
    expect_nonempty,
    expect_observed,
    observe_metrics,
)
from .sources.ddl import reset_serving_tables
from .sources.readers import external_timeseries

SENTIMENT_CLASSES = ("positive", "negative", "na")


def extract_sentiment(
    spark: SparkSession, sf_dir: str, date: str, language: str = "en"
) -> DataFrame:
    """The reference's Spark job (tweets.py:41-82) as ONE lazy plan:
    filter -> annotate -> one-row class histogram (a ``count_if`` per
    class; values outside the class list are not counted) -> enriched
    summary for ``date``.

    documents stand in for the day's tweet shards; ``date`` plays the
    execution-date role (tweets are path-partitioned by it, tweets.py:44).
    """
    docs = load_table(spark, "documents", sf_dir)
    filtered = docs.where(
        (F.col("lang") == language) & (~F.col("text").startswith("the "))
    )
    annotated = annotate_sentiment(filtered)
    d = F.to_date(F.lit(date))
    return annotated.agg(
        F.format_string("%s(%s)", F.lit(date), F.lit(language)).alias(
            "tweets_sentiment_id"
        ),
        d.cast("timestamp").alias("date"),
        F.year(d).cast("short").alias("year"),
        F.month(d).cast("short").alias("month"),
        F.dayofmonth(d).cast("short").alias("day"),
        F.lit(language).alias("language"),
        *[
            F.count_if(F.col("overall_sentiment") == c).cast("int").alias(f"{c}_count")
            for c in SENTIMENT_CLASSES
        ],
    )


def scrap_market_data(
    spark: SparkSession,
    fetch: Callable[[str, str], list],
    indices: Iterable[str],
    date: str,
) -> DataFrame:
    """The market task (market.py:15-42): fetch every configured series
    for ``date`` via the injected connector callback, one DataFrame out.
    ``fetch(index, date) -> [(index, value-or-None)]`` mirrors the
    None-when-missing Quandl contract (market.py:24-27)."""
    d = F.to_date(F.lit(date))
    series = external_timeseries(
        spark, fetch, indices, date, schema="index string, value float"
    )
    return series.select(
        F.format_string("%s(%s)", F.lit(date), F.col("index")).alias(
            "markets_value_id"
        ),
        d.cast("timestamp").alias("date"),
        F.year(d).cast("short").alias("year"),
        F.month(d).cast("short").alias("month"),
        F.dayofmonth(d).cast("short").alias("day"),
        F.col("index"),
        F.col("value"),
    )


def _append_gated(
    spark: SparkSession, df: DataFrame, table: str, gates: dict[str, Column]
) -> None:
    """Append ``df`` to ``table``, then assert each gate (name ->
    predicate) matched >=1 row. The matching rows are counted during
    the write itself (``observe_metrics``): an append only adds rows, so
    a write that held a match proves the table holds one, with no extra
    job. Only a gate whose count is 0 scans the table, which keeps a
    re-run of a date whose fetch came back empty passing on the rows an
    earlier run committed."""
    observed, obs = observe_metrics(
        df, *[F.count_if(pred).alias(name) for name, pred in gates.items()]
    )
    observed.write.mode("append").insertInto(table)
    for name, pred in gates.items():
        try:
            expect_observed(obs, lambda m, name=name: m[name] > 0, name=name)
        except DataQualityError:
            expect_nonempty(spark.table(table), pred, name=name)


def run_daily(
    spark: SparkSession,
    sf_dir: str,
    date: str,
    fetch: Callable[[str, str], list],
    indices: Iterable[str] = ("NASDAQOMX/XQC",),
    language: str = "en",
    db_prefix: str = "",
) -> None:
    """One execution-date run of the whole DAG (tweets_and_market.py:97-104):
    the tweets side (extract -> append -> gate) and the market side
    (fetch -> append -> gate) run concurrently on two driver threads, the
    reference's fan-out, and the call returns once both have finished,
    its fan-in. Both threads inherit the caller's job group, description
    and tags, so every job a day launches is traced to the caller's.
    When both sides fail, the tweets side's error is raised. Spark's
    lazy DAG handles everything within each side. ``db_prefix`` (e.g.
    ``"mydb."``) redirects the serving tables into an alternate database
    — the warehouse-relocation knob the roundtrip query uses to stay
    cwd-independent."""
    indices = tuple(indices)
    d = F.to_date(F.lit(date)).cast("timestamp")

    def tweets_side() -> None:
        _append_gated(
            spark,
            extract_sentiment(spark, sf_dir, date, language),
            f"{db_prefix}tweets_sentiment",
            {f"tweets@{date}": F.col("date") == d},
        )

    def market_side() -> None:
        _append_gated(
            spark,
            scrap_market_data(spark, fetch, indices, date),
            f"{db_prefix}markets_value",
            {
                f"market@{date}/{index}": (F.col("date") == d) & (F.col("index") == index)
                for index in indices
            },
        )

    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=2) as pool:
        sides = [pool.submit(inherit(side)) for side in (tweets_side, market_side)]
    for side in sides:
        side.result()


def backfill(
    spark: SparkSession,
    sf_dir: str,
    dates: Iterable[str],
    fetch: Callable[[str, str], list],
    reset: bool = True,
    db_prefix: str = "",
    **kwargs,
) -> None:
    """O2: the bounded backfill window (tweets_and_market.py:15-17,
    2020-01-21..31 in the reference) as an explicit date loop, optionally
    after an O6 reset."""
    if reset:
        reset_serving_tables(spark, db_prefix)
    for date in dates:
        run_daily(spark, sf_dir, date, fetch, db_prefix=db_prefix, **kwargs)


def flagship_join(spark: SparkSession) -> DataFrame:
    """The README's visualization query (README.md:63-66), over the
    serving tables inside Catalyst instead of ad-hoc Redshift SQL."""
    return spark.sql(
        """
        SELECT mv.date, mv.index, mv.value,
               ts.positive_count, ts.negative_count
        FROM markets_value mv
        JOIN tweets_sentiment ts ON mv.date = ts.date
        """
    )


def incremental_daily_counts(
    spark: SparkSession,
    prior_agg: DataFrame,
    new_events: DataFrame,
) -> DataFrame:
    """Incremental materialized-aggregate maintenance: merge yesterday's
    aggregate table with the aggregate of ONLY the new partition —
    algebraic aggregates (count, decimal sum) re-aggregate exactly, so
    merge(agg(old), agg(delta)) == agg(old ∪ delta) with cost
    O(|delta| + |aggregate|) instead of a full recompute.

    This is the batch twin of the streaming update mode: the daily
    Airflow-style schedule (SURVEY.md §2.7) maintains the serving
    aggregate by folding one day at a time. Late/replayed days are safe:
    group keys merge; exactly-once delivery of deltas is the caller's
    contract (e.g., one partition == one day, tracked in a manifest).
    """
    delta = (
        new_events.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("value_dec"),
        )
    )
    prior = prior_agg.select(
        "day", "event_type", "cnt", F.col("total_value").cast("decimal(18,2)").alias("value_dec")
    )
    return (
        prior.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("value_dec").cast("double").alias("total_value"),
        )
    )
