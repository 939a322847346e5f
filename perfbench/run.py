"""The engine's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. BENCHMARK.json names ``curation`` and
``daily_etl`` (and why each was chosen); ``olap`` runs by hand only,
because a cold Spark set-up per run leaves room for two workloads in
the benchmark's total time budget. Workloads:

- ``olap``: passes over relational/windowed registry rows;
- ``curation``: passes over iterative and Python-worker registry rows;
- ``daily_etl``: the reference DAG: reset the serving tables, backfill
  2020-01-21..31 one date at a time, read back with ``flagship_join``.

Traced on the generated sf0.01 tables (4 cores), the running of the
query is 74% of an ``olap`` op and building it 16%; building is 82% of
a ``curation`` op and running 14%; a ``daily_etl`` day spends 57% in
its two appends, 29% in the quality gates and 11% building its queries.

Each run writes the input tables (``datagen.py``) into a private run
directory under ``.perfbench/runs/``. The tables come from a fixed seed:
the iterative rows run a data-dependent number of rounds, so tables that
changed with ``--seed`` would move op times between seeds. ``--seed``
permutes the row order inside each pass and salts the market values of
``daily_etl``; the package receives only the resulting inputs. The run
then starts one Spark application process (``workload.py``) with its
cwd, ``TMPDIR`` and Spark local dirs there, removes the directory
afterwards and keeps the JSON artifact under ``.perfbench/out/``.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer ones; the last stdout line is the result object. Any failed
op or output check makes the exit code non-zero.

``--tables DIR`` runs on the parquet tables in DIR instead of generated
ones (to compare the generated inputs with other data of the same
schema); BENCHMARK.json's command does not use it.

``--smoke`` runs one short pass of each workload at sf0.001 with and
without tracing and checks that every metric BENCHMARK.json names is
emitted.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("olap", "curation", "daily_etl")
DEFAULT_SF = 0.01
RUN_LIMIT_S = 170.0
TABLE_SEED = 42


def _session_pids(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``."""
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    state = f.read().rsplit(")", 1)[1].split()[0]
                if state != "Z" and os.getsid(int(entry)) == sid:
                    pids.append(int(entry))
            except OSError:
                continue
    return pids


def _stop_session(proc: subprocess.Popen) -> None:
    """Stop the run's process and what it left running (its JVM, Python
    workers), and wait until every process of its session has ended."""
    deadline = time.monotonic() + 20.0
    sig = signal.SIGTERM
    while True:
        proc.poll()  # reaps the run's own process once it has ended
        pids = _session_pids(proc.pid)
        if not pids:
            return
        if time.monotonic() > deadline - 10.0:
            sig = signal.SIGKILL
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} did not stop")
        for pid in pids:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        time.sleep(0.2)


def run_once(
    root: str, workload: str, seed: int, seconds: float, trace: int, sf: float,
    tables: str | None = None,
) -> dict | None:
    """One run in a fresh Spark process, on generated tables at ``sf``
    or on the tables in ``tables``; its artifact, or None."""
    t0 = time.monotonic()
    tag = f"{workload}-seed{seed}-trace{trace}-{os.getpid()}"
    run_dir = os.path.join(root, ".perfbench", "runs", tag)
    out_dir = os.path.join(root, ".perfbench", "out")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, tmp, local = (os.path.join(run_dir, d) for d in ("data", "tmp", "local"))
    for d in (tmp, local, out_dir):
        os.makedirs(d, exist_ok=True)
    if tables:
        data = os.path.abspath(tables)
    else:
        datagen.generate(data, TABLE_SEED, sf)
    out = os.path.join(out_dir, f"{tag}.json")
    log = os.path.join(out_dir, f"{tag}.log")
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        TZ="UTC",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "workload.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--data", data, "--sf", data if tables else str(sf), "--out", out,
    ]
    with open(log, "w") as logf:
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(RUN_LIMIT_S - (time.monotonic() - t0), 1.0))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _stop_session(proc)
            proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        why = "timed out" if rc is None else f"exited {rc}"
        print(f"{workload}: Spark process {why}; log {log}", file=sys.stderr)
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        return None
    with open(out) as f:
        return json.load(f)


def report(art: dict) -> None:
    res = art["result"]
    for name, m in res["metrics"].items():
        print(f"{art['workload']} {name} = {m['value']:.6g} {m['unit']}")
    print(
        f"{art['workload']} ops attempted={res['attempted']} failed={res['failed']} "
        f"error_rate={art['error_rate']:.4g} samples={art['op_samples']} "
        f"peak_rss={art['peak_rss_mib']:.0f}MiB "
        f"correct={res['correct']} run_conditions={json.dumps(art['run_conditions'])}"
    )
    for key, why in art["failed_checks"].items():
        print(f"{art['workload']} check failed {key}: {why}")


def smoke(root: str) -> int:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    bad = []
    for workload in WORKLOADS:
        for trace in (0, 1):
            art = run_once(root, workload, 1, 1, trace, sf=0.001)
            if art is None:
                bad.append(f"{workload}/trace{trace}: no result")
                continue
            report(art)
            res = art["result"]
            emitted = {name: m["unit"] for name, m in res["metrics"].items()}
            if emitted != wanted[trace] or not res["correct"] or res["failed"]:
                diff = sorted(set(emitted.items()) ^ set(wanted[trace].items()))
                bad.append(f"{workload}/trace{trace}: name/unit mismatch={diff} "
                           f"correct={res['correct']} failed={res['failed']}")
    for line in bad:
        print("SMOKE FAIL", line)
    print("SMOKE", "FAIL" if bad else "PASS")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tables", help="directory of input tables to use instead of generated ones")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    # A terminated benchmark still stops its Spark process (run_once's finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dend_covid19_spark", "__init__.py")):
        print("run from the repository root: dend_covid19_spark/ not found", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke(root)
    if args.workload is None:
        ap.error("--workload is required")
    art = run_once(root, args.workload, args.seed, args.seconds, args.trace, DEFAULT_SF, args.tables)
    if art is None:
        return 1
    report(art)
    res = art["result"]
    print(json.dumps(res))
    return 0 if res["correct"] and res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
