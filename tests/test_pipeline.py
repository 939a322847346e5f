"""End-to-end test of the reference-pipeline re-expression (O1-O6):
reset -> backfill two dates -> quality gates -> flagship join."""

from __future__ import annotations

import pytest

from dend_covid19_spark.operators.quality import (
    DataQualityError,
    expect_no_nulls,
    expect_nonempty,
    expect_unique_key,
)
from dend_covid19_spark.pipeline import backfill, flagship_join, run_daily
from dend_covid19_spark.sources.ddl import reset_serving_tables
from tests.conftest import SF_DIR


def fake_quandl(index: str, date: str) -> list:
    """Deterministic stand-in for the Quandl connector (market.py:21-27):
    value derived from the key; one index intentionally 'missing'."""
    if index == "NASDAQOMX/MISSING":
        return [(index, None)]
    return [(index, float(len(index)) + float(date[-2:]))]


@pytest.fixture(scope="module")
def warehouse(spark):
    # spark.sql.warehouse.dir is a static conf — use the session default
    # (./spark-warehouse, gitignored) and clean up the tables around us.
    reset_serving_tables(spark)
    yield spark
    from dend_covid19_spark.sources.ddl import drop_serving_tables

    drop_serving_tables(spark)


def test_backfill_and_flagship(warehouse):
    spark = warehouse
    dates = ["2020-01-21", "2020-01-22"]
    backfill(
        spark,
        SF_DIR,
        dates,
        fake_quandl,
        indices=("NASDAQOMX/XQC", "NASDAQOMX/NQEU"),
    )
    ts = spark.table("tweets_sentiment")
    assert ts.count() == 2
    row = ts.where("tweets_sentiment_id = '2020-01-21(en)'").collect()[0]
    assert row.year == 2020 and row.month == 1 and row.day == 21
    assert row.positive_count + row.negative_count + row.na_count > 0

    mv = spark.table("markets_value")
    assert mv.count() == 4  # 2 dates x 2 indices
    expect_unique_key(mv, "markets_value_id")
    expect_no_nulls(mv, "date", "index")

    joined = flagship_join(spark)
    assert joined.count() == 4
    cols = set(joined.columns)
    assert {"date", "index", "value", "positive_count", "negative_count"} <= cols


def test_null_market_value_is_preserved(warehouse):
    spark = warehouse
    run_daily(
        spark, SF_DIR, "2020-01-23", fake_quandl, indices=("NASDAQOMX/MISSING",)
    )
    row = (
        spark.table("markets_value")
        .where("markets_value_id = '2020-01-23(NASDAQOMX/MISSING)'")
        .collect()[0]
    )
    assert row.value is None  # market.py:26-27 semantics


def test_quality_gates(warehouse):
    spark = warehouse
    df = spark.table("tweets_sentiment")
    expect_nonempty(df)
    with pytest.raises(DataQualityError):
        expect_nonempty(df, df.language == "xx", name="missing-language")
    with pytest.raises(DataQualityError):
        dup = df.union(df)
        expect_unique_key(dup, "tweets_sentiment_id", name="dup-pk")


def _no_points(index: str, date: str) -> list:
    """A connector that has nothing for the date."""
    return []


def _connector_down(index: str, date: str) -> list:
    raise ConnectionError("market API down")


def test_empty_market_fetch_fails_gate_then_table_fallback(warehouse):
    """An empty fetch for a new date fails the market gate by name; once
    an earlier run has committed rows for that date, a re-run with an
    empty fetch passes on them (the gate falls back to the table)."""
    spark = warehouse
    date, index = "2020-02-01", "NASDAQOMX/XQC"
    with pytest.raises(DataQualityError, match=f"market@{date}/{index}"):
        run_daily(spark, SF_DIR, date, _no_points, indices=(index,))
    run_daily(spark, SF_DIR, date, fake_quandl, indices=(index,))
    run_daily(spark, SF_DIR, date, _no_points, indices=(index,))
    mv = spark.table("markets_value").where(f"markets_value_id = '{date}({index})'")
    assert mv.count() == 1


def test_market_fetch_error_propagates_after_tweets_commit(warehouse):
    """A connector that raises fails the day, and the call returns only
    after the concurrent tweets side has committed its row."""
    spark = warehouse
    date = "2020-02-02"
    with pytest.raises(ConnectionError, match="market API down"):
        run_daily(spark, SF_DIR, date, _connector_down)
    ts = spark.table("tweets_sentiment").where(f"tweets_sentiment_id = '{date}(en)'")
    assert ts.count() == 1


def test_both_sides_failing_raises_the_tweets_error(warehouse, tmp_path):
    """With no documents to read and a connector that raises, the day
    fails with the tweets side's error, not the market side's."""
    with pytest.raises(Exception) as err:
        run_daily(warehouse, str(tmp_path / "missing"), "2020-02-03", _connector_down)
    assert not isinstance(err.value, ConnectionError)


def test_run_daily_jobs_stay_in_callers_job_group(warehouse):
    """Both sides inherit the caller's job group, and the gates read the
    counts observed during the writes: a day is the sentiment write's 2
    jobs plus the market write's 1, with no gate scans."""
    spark = warehouse
    sc = spark.sparkContext
    sc.setJobGroup("run_daily_jobs", "one execution date")
    try:
        run_daily(spark, SF_DIR, "2020-02-04", fake_quandl)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("run_daily_jobs")) == 3


def test_incremental_daily_counts_matches_full(spark):
    """Folding the last day into the aggregate of all earlier days must
    equal the full-recompute aggregate exactly (algebraic re-aggregation
    over exact decimals)."""
    from pyspark.sql import functions as F

    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.pipeline import incremental_daily_counts
    from dend_covid19_spark.plans.timeseries import events_tumbling_daily

    ev = load_table(spark, "events", SF_DIR)
    cutoff = ev.agg(F.max(F.to_date("ts")).alias("d")).collect()[0].d
    old = ev.where(F.to_date("ts") < F.lit(cutoff))
    new = ev.where(F.to_date("ts") >= F.lit(cutoff))
    prior = (
        old.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    got = {
        (str(r.day), r.event_type): (r.cnt, round(r.total_value, 2))
        for r in incremental_daily_counts(spark, prior, new).collect()
    }
    want = {
        (str(r.day), r.event_type): (r.cnt, round(r.total_value, 2))
        for r in events_tumbling_daily(spark, SF_DIR).collect()
    }
    assert got == want


def test_observe_metrics_free_telemetry(spark):
    """observe_metrics rides the caller's action (no extra job) and
    expect_observed gates on the captured aggregates — the alert-after
    quality-gate shape. A failing predicate must raise with the
    metrics embedded."""
    import pytest
    from pyspark.sql import functions as F

    from dend_covid19_spark.operators.quality import (
        DataQualityError,
        expect_observed,
        observe_metrics,
    )

    df = spark.range(1000).withColumn("v", F.col("id") % 10)
    observed, obs = observe_metrics(
        df,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).alias("n_zero"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the action
    m = expect_observed(obs, lambda m: m["n_rows"] == 1000 and m["n_zero"] == 100)
    assert m == {"n_rows": 1000, "n_zero": 100}

    observed2, obs2 = observe_metrics(df, F.count(F.lit(1)).alias("n_rows"))
    observed2.write.format("noop").mode("overwrite").save()
    with pytest.raises(DataQualityError, match="n_rows"):
        expect_observed(obs2, lambda m: m["n_rows"] > 10**6, name="volume-floor")


def test_pipeline_imports_first():
    """Importing ``pipeline`` before the plans package must not hit the
    pipeline -> operators -> plans -> serving -> pipeline cycle."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", "import dend_covid19_spark.pipeline"],
        cwd=repo,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
