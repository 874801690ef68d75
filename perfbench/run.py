#!/usr/bin/env python3
"""End-to-end benchmark of erddap2agol_spark, with a per-layer trace.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload curation --seed 1 --seconds 15 --trace 0

Workloads: ``relational``, ``curation``, ``erddap_etl`` (see
``workloads.py`` and ``LAYERS.md``).  Inputs are generated from ``--seed``
into ``.perfbench_work/`` inside the checkout; the engine only sees those
generated inputs.  Spark runs on ``local[nproc]`` in this process.

One run:

1. generate the inputs (untimed; the ETL fixture servers start in a
   process of their own);
2. set up several times (``SETUPS`` .. ``MAX_SETUPS``) -- SparkSession
   start, source/sink registration and table-footer warm-up; the first one
   also launches the JVM, the others restart the session in it.
   ``setup_s`` is the median;
3. closed-loop passes over the workload: the cold pass, then untimed
   warm-up passes (``WARMUP_PASSES``), then steady-state passes for
   ``--seconds`` (at least ``MIN_WARM``; a pass is not started when it
   would end past the window);
4. with ``--trace 1``: restart the session with Spark's event log on and
   job groups set, run ``TRACED_PASSES`` passes, and report the
   per-layer metrics from them;
5. check every result (oracle compare / ETL counts), outside the clock.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  Earlier lines carry the stamp
(seed, loadavg, nproc, commit, versions), sample counts and the names of
failed operations.  ``--smoke`` shrinks the inputs (sf0.001, a 2-dataset
csvp fleet) for the benchmark's own tests; ``--corrupt OP`` deliberately
corrupts one operation's result before the check.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
NPROC = len(os.sched_getaffinity(0))

#: set-ups per run: at least SETUPS; session restarts continue while they
#: have taken less than SETUP_BUDGET_S in total, up to MAX_SETUPS
SETUPS = 3
MAX_SETUPS = 9
SETUP_BUDGET_S = 2.0
MIN_WARM = 2
#: warm-up passes after the cold pass, not reported: the JIT is still
#: speeding passes up for the first few of them (more would steady the
#: figures a little, at a cost the 22-runs-per-workload budget cannot pay)
WARMUP_PASSES = 1
TRACED_PASSES = 3
SF = 0.01
SMOKE_SF = 0.001
#: (csvp datasets, griddap datasets, rows per csvp dataset)
FLEET = (2, 1, 1500)
SMOKE_FLEET = (2, 0, 300)

WORKLOADS = ("relational", "curation", "erddap_etl")
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cold_pass_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "peak_rss_mb": "MB",
}


def _env() -> None:
    """Environment for the engine, set before pyspark is imported: Spark's
    Python workers import the package from the checkout, and every
    scratch file stays inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    sys.path.insert(0, ROOT)


class Fixtures:
    """The fixture-server process (``fixture_server.py``)."""

    def __init__(self, cfg: dict):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "fixture_server.py"), json.dumps(cfg)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=ROOT,
        )
        try:
            self.urls = json.loads(self.proc.stdout.readline())
        except ValueError:
            self.proc.kill()
            self.proc.wait()
            raise RuntimeError("the fixture servers did not start") from None

    def call(self, cmd: dict) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())

    def stop(self) -> None:
        if self.proc.poll() is None:
            try:
                self.call({"cmd": "stop"})
                self.proc.wait(timeout=10)
            except Exception:
                self.proc.kill()
                self.proc.wait()


def _stat(pid: int) -> tuple[str, int, str] | None:
    """(state, parent pid, start time) of a live process, else None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return fields[0], int(fields[1]), fields[19]


def _descendants() -> dict[int, str]:
    """Start time of every live process descended from this one, by pid."""
    children: dict[int, list[int]] = {}
    started: dict[int, str] = {}
    for d in os.listdir("/proc"):
        st = _stat(int(d)) if d.isdigit() else None
        if st is not None and st[0] not in "ZX":
            children.setdefault(st[1], []).append(int(d))
            started[int(d)] = st[2]
    out: dict[int, str] = {}
    todo = [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), ()):
            out[c] = started[c]
            todo.append(c)
    return out


def stop_processes(fixtures: "Fixtures | None", timeout: float = 60.0) -> None:
    """Stop every process the run started -- the fixture server, the Spark
    JVM and the Python workers it forked -- and wait until each has ended.

    A stopped SparkSession leaves its JVM running until this interpreter
    exits, and the JVM then winds down on its own after we are gone; so
    the JVM is told to exit here (EOF on its stdin) and waited for.
    """
    if fixtures is not None:
        fixtures.stop()
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    procs = _descendants()
    gw = SparkContext._gateway
    if gw is not None:
        SparkContext._gateway = SparkContext._jvm = None
        gw.close()
        jvm = getattr(gw, "proc", None)
        if jvm is not None:
            jvm.stdin.close()
            try:
                jvm.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
    # orphaned grandchildren are no longer ours to wait() for: poll them
    def running() -> list[int]:
        return [p for p, t in procs.items() if (st := _stat(p)) and st[0] not in "ZX" and st[2] == t]

    for wait_s in (timeout, 10.0):
        deadline = time.monotonic() + wait_s
        while (left := running()) and time.monotonic() < deadline:
            time.sleep(0.05)
        if not left:
            return
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    raise RuntimeError(f"processes still running after the run: {left}")


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    # not a git checkout: a digest of the package source identifies the tree
    h = hashlib.sha1()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, "erddap2agol_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return "tree-sha1:" + h.hexdigest()[:16]


def _phase_medians(passes: list[dict]) -> dict:
    """Median seconds per (operation, phase); NRT refreshes pooled."""
    phases: dict = {}
    for ps in passes:
        for op in ps["ops"]:
            name = "nrt" if op.kind == "refresh" else op.name
            for ph, t in op.times.items():
                phases.setdefault(name, {}).setdefault(ph, []).append(t)
    return {o: {ph: round(statistics.median(ts), 4) for ph, ts in d.items()} for o, d in phases.items()}


def setup(ctx, event_log: str | None = None):
    """SparkSession start, source/sink registration, table-footer warm-up."""
    from erddap2agol_spark.session import get_spark
    from erddap2agol_spark.sinks import geojson_sink
    from erddap2agol_spark.sources import erddap_http
    from erddap2agol_spark.sources.tables import TABLE_NAMES, load_table

    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # no hsperfdata file in /tmp; JVM temp files inside the checkout
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.eventLog.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name=f"perfbench-{ctx.workload}", master=f"local[{NPROC}]",
        shuffle_partitions=NPROC, extra_conf=conf,
    )
    erddap_http.register(spark)
    geojson_sink.register(spark)
    if ctx.workload != "erddap_etl":
        for t in TABLE_NAMES:
            load_table(spark, ctx.sf_dir, t).schema
    return spark


def run_pass(ctx, p: int):
    import workloads

    ctx.tracer.pass_no = p
    if ctx.workload != "erddap_etl":
        t0 = time.perf_counter()
        ops = workloads.query_pass(ctx, ctx.order)
        return {"pass": p, "wall": time.perf_counter() - t0, "ops": ops}
    ctx.fixtures.call({"cmd": "reset"})
    t0 = time.perf_counter()
    ops = workloads.etl_pass(ctx, p)
    wall = time.perf_counter() - t0
    return {"pass": p, "wall": wall, "ops": ops, "served": ctx.fixtures.call({"cmd": "stats"})}


def passes_for(ctx, seconds: float, min_passes: int) -> list[dict]:
    """Closed-loop passes until ``seconds`` have elapsed (at least
    ``min_passes``); a pass is not started if it would end past the
    window, judged by the last pass's wall time."""
    out: list[dict] = []
    t0 = time.perf_counter()
    while True:
        out.append(run_pass(ctx, len(ctx.passes) + len(out)))
        elapsed = time.perf_counter() - t0
        if len(out) >= min_passes and elapsed + out[-1]["wall"] > seconds:
            return out
        if all(op.error is not None for op in out[-1]["ops"]):
            return out  # nothing works: more passes would only repeat it


def end_to_end(ctx, cold: dict, warm: list[dict]) -> dict:
    from layers import pct

    lat = [op.wall for ps in warm for op in ps["ops"] if op.kind != "refresh"]
    return {
        "setup_s": statistics.median(ctx.setup_times),
        "wall_s": statistics.median(ps["wall"] for ps in warm),
        "cold_pass_s": cold["wall"],
        "op_p50_s": statistics.median(lat),
        "op_p90_s": pct(lat, 0.9),
        "peak_rss_mb": ctx.peak_rss_mb,
    }, len(lat)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt", default=None, metavar="OP")
    args = ap.parse_args(argv)

    # a terminated run still stops what it started (see the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    shutil.rmtree(WORK, ignore_errors=True)
    _env()
    import datagen
    import layers
    import workloads
    from tracing import Tracer, read_event_log

    load_before = os.getloadavg()
    ticks_before = _cpu_ticks()
    marks = [("start", time.perf_counter())]
    ctx = SimpleNamespace()
    ctx.workload, ctx.seed, ctx.work = args.workload, args.seed, WORK
    ctx.tracer = Tracer(args.workload)
    ctx.passes = []
    rng = random.Random(args.seed)
    ctx.sf_dir = os.path.join(WORK, "tables")
    ctx.fixtures = None
    try:
        if args.workload == "erddap_etl":
            n_csvp, n_grid, n_rows = SMOKE_FLEET if args.smoke else FLEET
            csvp, grids = datagen.make_fleet(os.path.join(WORK, "fleet"), args.seed, n_csvp, n_grid, n_rows)
            ctx.fixtures = Fixtures({
                "hot": {d.dataset_id: d.path for d in csvp if d.hot},
                "cold": {d.dataset_id: d.path for d in csvp if not d.hot},
                "grid": {g.dataset_id: g.divisions for g in grids},
                "max_concurrent": NPROC,
            })
            ctx.fleet = workloads.Fleet(csvp, ctx.fixtures.urls)
            ctx.etl_order = rng.sample(csvp + grids, len(csvp) + len(grids))
            from erddap2agol_spark.sinks.agol_rest import AgolRestClient

            ctx.client = AgolRestClient(ctx.fixtures.urls["portal"])
            ctx.op_names = [d.dataset_id for d in ctx.etl_order]
        else:
            datagen.write_tables(ctx.sf_dir, SMOKE_SF if args.smoke else SF, args.seed)
            names = workloads.RELATIONAL if args.workload == "relational" else workloads.CURATION
            ctx.order = rng.sample(names, len(names))
            ctx.op_names = ctx.order

        marks.append(("inputs", time.perf_counter()))
        ctx.setup_times = []
        spark = None
        while len(ctx.setup_times) < SETUPS or (
            len(ctx.setup_times) < MAX_SETUPS and sum(ctx.setup_times[1:]) < SETUP_BUDGET_S
        ):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = setup(ctx)
            ctx.setup_times.append(time.perf_counter() - t0)
        ctx.spark = spark
        spark_version = spark.version
        ctx.tracer.attach(spark, False)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

        marks.append(("setup", time.perf_counter()))
        ctx.passes = [run_pass(ctx, 0)]
        ctx.passes += passes_for(ctx, 0.0, WARMUP_PASSES)
        ctx.n_warmup = len(ctx.passes) - 1
        marks.append(("warmup", time.perf_counter()))
        ctx.passes += passes_for(ctx, args.seconds, MIN_WARM)
        marks.append(("passes", time.perf_counter()))
        cold, warm = ctx.passes[0], ctx.passes[1 + ctx.n_warmup :]
        ctx.peak_rss_mb = _rss_mb(os.getpid()) + _rss_mb(jvm_pid)
        e2e, n_lat = end_to_end(ctx, cold, warm)

        traced = []
        if args.trace:
            log_dir = os.path.join(WORK, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            spark.stop()
            ctx.spark = spark = setup(ctx, event_log=log_dir)
            ctx.tracer.attach(spark, True)
            traced = passes_for(ctx, 0.0, TRACED_PASSES)
            ctx.passes += traced
            marks.append(("traced", time.perf_counter()))
        all_ops = [ps["ops"] for ps in ctx.passes]
        if args.workload == "erddap_etl":
            workloads.check_etl(ctx, all_ops, args.corrupt)
        else:
            workloads.check_queries(ctx, all_ops, args.corrupt)
        marks.append(("check", time.perf_counter()))
        spark.stop()
        if args.trace:
            events = read_event_log(log_dir, ctx.tracer.windows)
        marks.append(("stop", time.perf_counter()))
    finally:
        stop_processes(ctx.fixtures)

    ticks = [b - a for a, b in zip(ticks_before, _cpu_ticks())]
    ops = [op for ps in ctx.passes for op in ps["ops"]]
    failed = [op for op in ops if op.error is not None]
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        # share of CPU time the hypervisor gave to other guests during the run
        "cpu_steal_frac": round(ticks[7] / max(1, sum(ticks)), 4),
        "nproc": NPROC,
        "commit": _commit(),
        "spark": spark_version,
        "python": platform.python_version(),
        "op_order": ctx.op_names,
        "setup_times_s": [round(x, 3) for x in ctx.setup_times],
        "passes": {
            "cold": 1,
            "warmup": ctx.n_warmup,
            "warm": len(ctx.passes) - 1 - ctx.n_warmup - len(traced),
            "traced": len(traced),
        },
        "pass_walls_s": [round(ps["wall"], 3) for ps in ctx.passes],
        "op_latency_samples": n_lat,
        "run_phases_s": {b[0]: round(b[1] - a[1], 2) for a, b in zip(marks, marks[1:])},
    }
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({"failed_ops": sorted({op.name: op.error for op in failed}.items())}))
    print(json.dumps({
        "cold_op_phase_s": _phase_medians(ctx.passes[:1]),
        "warm_op_phase_median_s": _phase_medians(ctx.passes[1 + ctx.n_warmup :]),
    }))
    if args.trace:
        metrics = layers.per_layer(ctx, traced, events, e2e)
        print(json.dumps({"end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}}))
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
