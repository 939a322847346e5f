"""One benchmark run of one workload, in one Spark application process.

Started by ``run.py`` with its cwd, ``TMPDIR`` and Spark local dirs inside
a private run directory, so the engine's scratch root, ``spark-warehouse``
and Derby files land there. One closed-loop client issues one op at a
time. The run:

1. set-up (timed as ``setup_s``): package import, ``session.get_spark``,
   a ``catalog.load_table(..).count()`` scan of every table, and a
   warm-up pass that fills codegen and first-call caches. For the
   registry workloads the warm-up runs every row once as an op would,
   then collects it and checks it against its DuckDB oracle twin (the
   collect and the compare are not timed);
2. timed passes: ``--seconds`` divided by the workload's pass length
   on a quiet 4-vCPU host (PASS_S), rounded, and at least one. The
   count does not depend on how fast a run goes, so every run of every
   version measures the same ops. The seed permutes the row order
   inside each pass.

With ``--trace 1`` the run makes an even number of passes and traces
every other op, alternating which ones between passes: each op is then
run traced and untraced equally often, which gives the tracing overhead,
and the traced ops together make whole passes for the per-layer totals.

Writes one JSON artifact (``--out``) holding the result, the metrics,
the run conditions, per-op detail and, when tracing, the spans.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from types import SimpleNamespace

from spans import Tracer, plan_fingerprint

OLAP = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q7_nation_volume",
    "flagship_daily_join",
    "window_rank_orders",
    "events_sessionize",
    "events_ohlc_downsample",
    "agg_skew_aqe_join",
    "lakehouse_pruned_scan",
    "rolling_distinct_users_7d",
)
# Three hand-rolled iterative rows whose rounds run as jobs and
# localCheckpoints while the query is built (PageRank and label
# propagation: fixed 5 and 3 rounds; connected components in
# entity_resolution_parts: to a fixpoint, 6 rounds on the generated
# sf0.01 tables) and one Arrow-batched Python-worker row. Kept to four
# rows so that a cold warm-up plus the timed passes fit the per-run time
# budget.
CURATION = (
    "pagerank_copurchase",
    "graph_lpa_communities",
    "entity_resolution_parts",
    "model_inference_annotator",
)
# The reference DAG's backfill window and market series.
DATES = tuple(f"2020-01-{d}" for d in range(21, 32))
INDICES = ("NASDAQOMX/XQC", "NASDAQOMX/XNDXT25")
WARMUP_DATES = DATES[:2]
SERVING_TABLES = ("tweets_sentiment", "markets_value")

# Units of every per-layer metric. A workload reports 0 for the layers
# it does not run (plans.* on daily_etl, pipeline.* on the registry ones).
LAYER_UNITS = {
    "session.import_s": "s",
    "session.get_spark_s": "s",
    "catalog.warm_scan_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_tasks": "count",
    "plans.plan_s": "s",
    "plans.exec_s": "s",
    "plans.exec_jobs": "count",
    "plans.exec_stages": "count",
    "plans.exec_tasks": "count",
    "plans.shuffle_read_mb": "MiB",
    "plans.shuffle_write_mb": "MiB",
    "plans.spill_mb": "MiB",
    "plans.executor_run_s": "s",
    "plans.exec_util": "ratio",
    "plans.exchanges": "count",
    "plans.broadcasts": "count",
    "plans.scans": "count",
    "plans.python_evals": "count",
    "plans.rdd_scans": "count",
    "pipeline.extract_build_s": "s",
    "pipeline.sentiment_write_s": "s",
    "pipeline.market_build_s": "s",
    "pipeline.market_write_s": "s",
    "operators.quality.gate_s": "s",
    "sources.ddl.reset_s": "s",
    "pipeline.jobs_per_day": "count",
    "pipeline.tasks_per_day": "count",
    "pipeline.serving_files": "count",
    "pipeline.serving_bytes": "bytes",
    "scratch.bytes": "bytes",
    "functions.annotate_s": "s",
    "perfbench.errors": "count",
    "perfbench.trace_overhead": "ratio",
}
MIB = 1 << 20
# Seconds one timed pass takes on a quiet 4-vCPU host. A pass count
# taken from the clock instead flipped between two and three curation
# passes as the host's load changed, and runs with the extra, warmest
# pass read faster for that alone.
PASS_S = {"olap": 6.0, "curation": 8.0, "daily_etl": 16.0}
# Not exact: shuffle and serving bytes move with the seed (row order,
# salted market values) and scratch bytes by a few bytes between runs;
# every other count repeats exactly for any seed.
NOT_EXACT_COUNTS = (
    "plans.shuffle_read_mb", "plans.shuffle_write_mb", "pipeline.serving_bytes", "scratch.bytes",
)


def _now() -> float:
    return time.perf_counter()


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _vm_hwm_kib(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _tree_bytes(path: str, data_only: bool = False) -> tuple[int, int]:
    """(files, bytes) under ``path``; ``data_only`` skips ``_SUCCESS``
    markers and ``.crc`` side files."""
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            if data_only and n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


def _error() -> str:
    return traceback.format_exc(limit=3)[-2000:]


def _span_s(span: dict) -> float:
    return span["end"] - span["start"]


class Registry:
    """A workload of registry rows: one op builds one row and runs it to
    a noop sink."""

    def __init__(self, ctx, rows):
        self.ctx = ctx
        self.rows = rows
        self.failed_checks: dict[str, str] = {}
        self.warmup_detail: dict[str, dict] = {}

    def order(self, p: int) -> list[str]:
        rows = list(self.rows)
        random.Random(self.ctx.seed * 1009 + p).shuffle(rows)
        return rows

    def warmup(self) -> float:
        ctx, spent = self.ctx, 0.0
        for name in self.order(-1):
            spec = ctx.plans.get_spec(name)
            t = _now()
            try:
                df = spec.fn(ctx.spark, ctx.sf_dir)
                t_built = _now()
                _noop_write(df)
                t_run = _now()
                rows, cols = df.collect(), df.columns
            except Exception as exc:  # noqa: BLE001 - reported as a failed check
                spent += _now() - t
                self.failed_checks[name] = f"raised {exc!r}"[:2000]
                continue
            spent += t_run - t
            self.warmup_detail[name] = {
                "build_s": t_built - t, "exec_s": t_run - t_built, "collect_s": _now() - t_run,
            }
            if spec.oracle is None:
                self.failed_checks[name] = "no oracle twin"
                continue
            err = ctx.oracle.compare(cols, rows, spec.oracle)
            if err:
                self.failed_checks[name] = err
        return spent

    def run_pass(self, p: int, tr: Tracer | None) -> tuple[list[dict], float]:
        """The pass's ops and the seconds spent checking (none here)."""
        ctx, ops = self.ctx, []
        for name in self.order(p):
            fn = ctx.plans.get_spec(name).fn
            op = {"op": f"{p}:{name}", "row": name, "ok": name not in self.failed_checks}
            op["traced"] = tr is not None and (self.rows.index(name) + p) % 2 == 1
            t = _now()
            try:
                if op["traced"]:
                    op.update(self._traced(tr, op["op"], fn))
                else:
                    _noop_write(fn(ctx.spark, ctx.sf_dir))
            except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                op["ok"] = False
                op["error"] = _error()
            op["latency_s"] = _now() - t
            ops.append(op)
        return ops, 0.0

    def _traced(self, tr: Tracer, op_id: str, fn) -> dict:
        ctx = self.ctx
        with tr.span("op", op=op_id):
            with tr.span("plans.build", jobs=True) as build:
                df = fn(ctx.spark, ctx.sf_dir)
            with tr.span("plans.plan", jobs=True) as plan:
                df._jdf.queryExecution().executedPlan()
            before = tr.newest_execution()
            with tr.span("plans.exec", jobs=True) as ex:
                _noop_write(df)
            # The noop write plans and re-plans in its own SQL execution;
            # the fingerprint is taken from the plan it finished with.
            nodes = tr.plan_nodes(after=before)
        return {
            "build_s": _span_s(build),
            "plan_s": _span_s(plan),
            "exec_s": _span_s(ex),
            "build_counters": build["counters"],
            "exec_counters": ex["counters"],
            "fingerprint": plan_fingerprint(nodes),
        }

    def layer_metrics(self, tr: Tracer, traced_ops: list[dict], whole_passes: int) -> dict:
        """Per-pass totals of the traced ops."""

        def total(side: str, key: str) -> float:
            return sum(op[side][key] for op in traced_ops) / whole_passes

        out = {
            f"plans.{key}": sum(op[key] for op in traced_ops) / whole_passes
            for key in ("build_s", "plan_s", "exec_s")
        }
        out.update({
            "plans.build_jobs": total("build_counters", "jobs"),
            "plans.build_tasks": total("build_counters", "tasks"),
            "plans.exec_jobs": total("exec_counters", "jobs"),
            "plans.exec_stages": total("exec_counters", "stages"),
            "plans.exec_tasks": total("exec_counters", "tasks"),
            "plans.shuffle_read_mb": total("exec_counters", "shuffle_read_bytes") / MIB,
            "plans.shuffle_write_mb": total("exec_counters", "shuffle_write_bytes") / MIB,
            "plans.spill_mb": total("exec_counters", "spill_bytes") / MIB,
            "plans.executor_run_s": total("exec_counters", "executor_run_ms") / 1000.0,
        })
        out["plans.exec_util"] = out["plans.executor_run_s"] / (out["plans.exec_s"] * self.ctx.cores)
        for key in ("exchanges", "broadcasts", "scans", "python_evals", "rdd_scans"):
            out[f"plans.{key}"] = total("fingerprint", key)
        return out


class DailyEtl:
    """The reference DAG as a user runs it: reset the serving tables,
    backfill the window one execution date at a time (one op per date),
    read back with ``flagship_join``. Every pass is checked against the
    DuckDB twin of the window."""

    DAY_STEPS = (
        "pipeline.extract_build",
        "pipeline.sentiment_write",
        "pipeline.market_build",
        "pipeline.market_write",
        "operators.quality.gate",
    )

    def __init__(self, ctx):
        self.ctx = ctx
        self.salt = ctx.seed % 997
        self.failed_checks: dict[str, str] = {}
        self.first_tables: dict[str, tuple] = {}
        from checks import serving_oracle
        from dend_covid19_spark.plans.annotate import _SENTIMENT_CTE

        self.twins = serving_oracle(_SENTIMENT_CTE, DATES, INDICES, self.market_value)

    def market_value(self, index: str, date: str) -> int:
        return int(date[8:10]) * 100 + len(index) + self.salt

    def fetch(self, index: str, date: str) -> list:
        """Deterministic in-process market connector, salted by the seed."""
        return [(index, float(self.market_value(index, date)))]

    def warmup(self) -> float:
        ctx = self.ctx
        t = _now()
        ctx.ddl.reset_serving_tables(ctx.spark)
        ctx.pipeline.backfill(
            ctx.spark, ctx.sf_dir, WARMUP_DATES, self.fetch, reset=False, indices=INDICES
        )
        ctx.pipeline.flagship_join(ctx.spark).collect()
        return _now() - t

    def run_pass(self, p: int, tr: Tracer | None) -> tuple[list[dict], float]:
        """The pass's ops and the seconds spent checking its output."""
        ctx, ops = self.ctx, []
        try:
            with tr.span("sources.ddl.reset", op=f"{p}:reset", jobs=True) if tr else nullcontext():
                ctx.ddl.reset_serving_tables(ctx.spark)
        except Exception:  # noqa: BLE001 - the pass then fails its check
            self.failed_checks[f"{p}:reset"] = _error()
        for i, date in enumerate(DATES):
            op = {"op": f"{p}:{date}", "row": date, "ok": True}
            op["traced"] = tr is not None and (i + p) % 2 == 1
            t = _now()
            try:
                if op["traced"]:
                    self._traced_day(tr, op["op"], date)
                else:
                    ctx.pipeline.backfill(
                        ctx.spark, ctx.sf_dir, [date], self.fetch, reset=False, indices=INDICES
                    )
            except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                op["ok"] = False
                op["error"] = _error()
            op["latency_s"] = _now() - t
            ops.append(op)
        check_s = 0.0
        try:
            with tr.span("pipeline.readback", op=f"{p}:readback", jobs=True) if tr else nullcontext():
                joined = ctx.pipeline.flagship_join(ctx.spark)
                rows = joined.collect()
            t = _now()
            self._check_pass(p, joined.columns, rows)
            check_s = _now() - t
        except Exception:  # noqa: BLE001 - reported as a failed check
            self.failed_checks[f"{p}:readback"] = _error()
        if any(k.startswith(f"{p}:") for k in self.failed_checks):
            for op in ops:
                op["ok"] = False
        return ops, check_s

    def _traced_day(self, tr: Tracer, op_id: str, date: str) -> None:
        """The public steps of ``pipeline.run_daily``, in its order."""
        from pyspark.sql import functions as F

        ctx = self.ctx
        spark, pipeline = ctx.spark, ctx.pipeline
        with tr.span("pipeline.day", op=op_id):
            with tr.span("pipeline.extract_build", jobs=True):
                sentiment = pipeline.extract_sentiment(spark, ctx.sf_dir, date, "en")
            with tr.span("pipeline.sentiment_write", jobs=True):
                sentiment.write.mode("append").insertInto("tweets_sentiment")
            with tr.span("pipeline.market_build", jobs=True):
                market = pipeline.scrap_market_data(spark, self.fetch, INDICES, date)
            with tr.span("pipeline.market_write", jobs=True):
                market.write.mode("append").insertInto("markets_value")
            with tr.span("operators.quality.gate", jobs=True):
                d = F.to_date(F.lit(date)).cast("timestamp")
                ctx.quality.expect_nonempty(
                    spark.table("tweets_sentiment"), F.col("date") == d, name=f"tweets@{date}"
                )
                for index in INDICES:
                    ctx.quality.expect_nonempty(
                        spark.table("markets_value"),
                        (F.col("date") == d) & (F.col("index") == index),
                        name=f"market@{date}/{index}",
                    )

    def _check_pass(self, p: int, cols, rows) -> None:
        from checks import same_rows

        oracle = self.ctx.oracle
        err = oracle.compare(cols, rows, self.twins["flagship_join"])
        if err:
            self.failed_checks[f"{p}:flagship_join"] = err
        for table in SERVING_TABLES:
            df = self.ctx.spark.table(table)
            t_cols, t_rows = df.columns, df.collect()
            err = oracle.compare(t_cols, t_rows, self.twins[table])
            if err:
                self.failed_checks[f"{p}:{table}"] = err
            # Traced passes replay run_daily step by step on every other
            # date; the tables every pass leaves must be the same.
            first = self.first_tables.setdefault(table, (t_cols, t_rows))
            if not same_rows(t_cols, t_rows, *first):
                self.failed_checks[f"{p}:{table}:differs_from_pass_0"] = "tables differ"

    def layer_metrics(self, tr: Tracer, traced_ops: list[dict], whole_passes: int) -> dict:
        """Per-pass totals of the traced spans."""

        def total(name: str, key: str | None = None) -> float:
            spans = [s for s in tr.spans if s["name"] == name]
            return sum(_span_s(s) if key is None else s["counters"][key] for s in spans)

        passes = 2 * whole_passes  # reset and read-back are traced in every pass
        out = {
            "pipeline.extract_build_s": total("pipeline.extract_build") / whole_passes,
            "pipeline.sentiment_write_s": total("pipeline.sentiment_write") / whole_passes,
            "pipeline.market_build_s": total("pipeline.market_build") / whole_passes,
            "pipeline.market_write_s": total("pipeline.market_write") / whole_passes,
            "operators.quality.gate_s": total("operators.quality.gate") / whole_passes,
            "sources.ddl.reset_s": total("sources.ddl.reset") / passes,
        }
        for key in ("jobs", "tasks"):
            out[f"pipeline.{key}_per_day"] = sum(
                total(n, key) for n in self.DAY_STEPS
            ) / len(traced_ops)
        files = size = 0
        for table in SERVING_TABLES:
            f, b = _tree_bytes(os.path.join("spark-warehouse", table), data_only=True)
            files, size = files + f, size + b
        out["pipeline.serving_files"] = files
        out["pipeline.serving_bytes"] = size
        return out


def _trace_overhead(ops: list[dict]) -> float:
    """Geometric mean over rows of traced / untraced op latency, minus 1.
    Each row runs traced in one pass and untraced in the other, and half
    the rows are traced in the first pass, so warm-up drift cancels."""
    by_row: dict[str, dict[bool, list[float]]] = {}
    for op in ops:
        by_row.setdefault(op["row"], {}).setdefault(op["traced"], []).append(op["latency_s"])
    ratios = [
        statistics.fmean(t[True]) / statistics.fmean(t[False])
        for t in by_row.values()
        if True in t and False in t
    ]
    return statistics.geometric_mean(ratios) - 1.0


def measure(args) -> dict:
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    cpu0, load0 = _cpu_times(), os.getloadavg()
    ctx = SimpleNamespace(seed=args.seed, sf_dir=args.data, cores=cores)

    setup: dict[str, float] = {}
    t = _now()
    # plans must be imported before pipeline: importing pipeline first
    # raises ImportError today (circular import through plans/serving.py).
    from dend_covid19_spark import plans
    from dend_covid19_spark import catalog, pipeline, session
    from dend_covid19_spark.functions import annotator
    from dend_covid19_spark.operators import quality
    from dend_covid19_spark.sources import ddl

    setup["session.import_s"] = _now() - t
    # Imported after the timed import: it imports the package's catalog.
    import checks

    ctx.oracle = checks.Oracle(args.data)
    t = _now()
    spark = session.get_spark(app_name="perfbench")
    setup["session.get_spark_s"] = _now() - t
    ctx.spark, ctx.plans, ctx.pipeline, ctx.ddl, ctx.quality = spark, plans, pipeline, ddl, quality
    t = _now()
    for name in catalog.TABLE_NAMES:
        catalog.load_table(spark, name, args.data).count()
    setup["catalog.warm_scan_s"] = _now() - t
    if args.workload == "daily_etl":
        wl = DailyEtl(ctx)
    else:
        wl = Registry(ctx, OLAP if args.workload == "olap" else CURATION)
    setup["warmup_s"] = wl.warmup()

    tr = Tracer(spark) if args.trace else None
    n_passes = max(1, round(args.seconds / PASS_S[args.workload]))
    if tr is not None:
        n_passes += n_passes % 2
    passes: list[dict] = []
    for p in range(n_passes):
        t = _now()
        ops, check_s = wl.run_pass(p, tr)
        passes.append({"pass": p, "wall_s": _now() - t - check_s, "ops": ops})
        if tr is not None and p % 2 == 1:
            with tr.span("functions.annotate", op=f"{p}:annotate", jobs=True):
                docs = catalog.load_table(spark, "documents", args.data)
                _noop_write(annotator.annotate_sentiment(docs))

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mib = (_vm_hwm_kib(os.getpid()) + _vm_hwm_kib(jvm_pid)) / 1024.0
    all_ops = [op for x in passes for op in x["ops"]]
    lat = sorted(op["latency_s"] for op in all_ops)
    failed = sum(1 for op in all_ops if not op["ok"])
    scratch_root = os.path.join(os.environ["TMPDIR"], "spark_graft_ingest")
    scratch_bytes = _tree_bytes(scratch_root)[1]

    if tr is None:
        metrics = {
            "setup_s": (sum(setup.values()), "s"),
            "ops_per_s": (len(all_ops) / sum(x["wall_s"] for x in passes), "1/s"),
            "op_p50_s": (statistics.median(lat), "s"),
        }
    else:
        traced = [op for op in all_ops if op["traced"] and "error" not in op]
        layers = wl.layer_metrics(tr, traced, len(passes) // 2)
        layers.update({k: setup[k] for k in ("session.import_s", "session.get_spark_s", "catalog.warm_scan_s")})
        ann = [_span_s(s) for s in tr.spans if s["name"] == "functions.annotate"]
        layers["functions.annotate_s"] = statistics.fmean(ann)
        layers["scratch.bytes"] = scratch_bytes
        layers["perfbench.errors"] = failed
        layers["perfbench.trace_overhead"] = _trace_overhead(all_ops)
        metrics = {k: (layers.get(k, 0), unit) for k, unit in LAYER_UNITS.items()}

    spark.stop()
    ctx.oracle.close()
    cpu1, load1 = _cpu_times(), os.getloadavg()
    busy = [b - a for a, b in zip(cpu0, cpu1)]
    artifact = {
        "result": {
            "correct": not wl.failed_checks,
            "attempted": len(all_ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
        "workload": args.workload,
        "run_conditions": {
            "loadavg_start": load0,
            "loadavg_end": load1,
            "cpu_steal_share": busy[7] / max(sum(busy), 1),
            "cores": cores,
            "seed": args.seed,
            "sf": args.sf,
        },
        "setup": setup,
        "warmup_rows": getattr(wl, "warmup_detail", {}),
        "op_samples": len(lat),
        # Reported only with enough samples for ten beyond it.
        "op_p90_s": statistics.quantiles(lat, n=10)[8] if len(lat) >= 100 else None,
        "error_rate": failed / len(all_ops),
        "peak_rss_mib": peak_rss_mib,
        "scratch_bytes": scratch_bytes,
        "failed_checks": wl.failed_checks,
        "passes": passes,
    }
    if tr is not None:
        artifact["not_exact_counts"] = NOT_EXACT_COUNTS
        artifact["self_time_s"] = tr.self_times()
        artifact["spans"] = tr.spans
    return artifact


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("olap", "curation", "daily_etl"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--sf", required=True, help="scale factor of --data, or its source")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    artifact = measure(args)
    with open(args.out, "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
