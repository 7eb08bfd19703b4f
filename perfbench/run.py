"""Benchmark of the geowave_spark engine: two seeded, closed-loop workloads.

Usage (from the repository root)::

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

Workloads (``workloads.py``; README.md beside this file): ``batch`` and
``scan_stream``.  Each runs one client thread against a ``local[N]``
session, N = the CPUs this process may use.

A run sets up three times and reports the median as ``setup_s``: each
set-up generates the seeded inputs and ingests them where the workload does;
the first also starts the session (reported on its own as
``session.start_s``).  After an untimed warm-up (a ``batch`` pass, a block
of scans) the run runs passes of the workload's operation list until
``--seconds`` have elapsed, then checks every operation's output outside the
timed region.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` traces the same
passes, forces single layers on their own in isolation spans afterwards, and
prints the per-layer metrics; the spans and per-layer self times are written
to ``perfbench/.work/traces/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  The exit code is 1
when any operation failed or failed its check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

from tracing import Tracer
from workloads import WORKLOADS

T0 = time.perf_counter()
HERE = Path(__file__).resolve().parent
REPO = HERE.parent
SETUP_REPS = 3
DRIVER_MEMORY = "2g"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _pin_environment(work: Path) -> None:
    """Everything the run and its Spark/Python workers write stays in
    ``work``; Python workers import the engine from the repository root."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    # every JVM (spark-submit's launcher and the driver) keeps its temp
    # files, and no hsperfdata, outside the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if str(REPO) not in sys.path:
        sys.path.insert(0, str(REPO))


def _start_session(work: Path):
    from geowave_spark.session import get_spark

    cores = _cores()
    tmp = work / "tmp"  # also Spark's local dir, through SPARK_LOCAL_DIRS
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra={
            "spark.driver.memory": DRIVER_MEMORY,
            # a fixed, pre-touched heap: peak RSS does not hang on when or
            # how far the heap grows
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": str(tmp),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.parent.name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _running(pid: int) -> bool:
    try:
        state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
    except (FileNotFoundError, ProcessLookupError):
        return False
    return state != "Z"


def _shutdown(spark) -> None:
    """Stop the session, then the driver JVM and the Python workers it
    started, and wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    jvm = getattr(gateway, "proc", None)
    if jvm is None:
        return
    workers = _descendants(jvm.pid)
    gateway.shutdown()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.monotonic() + 30
    while any(map(_running, workers)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(_running, workers):
        os.kill(pid, signal.SIGKILL)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _cpu_times() -> list[int]:
    return [int(v) for v in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]


def _environment(spark) -> dict:
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {
        "nproc": _cores(),
        "spark": spark.version,
        "java": next((ln for ln in java.splitlines() if " version " in ln), ""),
        "loadavg": Path("/proc/loadavg").read_text().split()[:3],
        "python": sys.version.split()[0],
    }


def _setup(wl, tr, work: Path, spark):
    """One set-up: start the session if there is none, generate the seeded
    inputs, and let the workload ingest and warm up.  Returns the session
    and the (total, session start, datagen) seconds."""
    t0 = time.perf_counter()
    if spark is None:
        spark = _start_session(work)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()  # first job: executors and codegen up
        tr.bind(spark)
    t_session = time.perf_counter() - t0
    shutil.rmtree(wl.root, ignore_errors=True)
    t1 = time.perf_counter()
    wl.generate()
    t_gen = time.perf_counter() - t1
    wl.prepare(spark, tr)
    return spark, time.perf_counter() - t0, t_session, t_gen


def _run_pass(wl, tr, i: int, log: list) -> list[tuple[str, float]]:
    """Run pass ``i``; append (key, seconds, payload or None) per operation
    to ``log``; return the pass's (key, seconds) list."""
    start = len(log)
    for op in wl.passes(i):
        tr.next_op()
        s = time.perf_counter()
        try:
            with tr.span(op.key, op.layer, "op"):
                payload = op.fn(tr)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            payload = None
        log.append((op.key, time.perf_counter() - s, payload))
    return [(k, d) for k, d, _ in log[start:]]


def _check(wl, log: list) -> int:
    failed = 0
    for key, _, payload in log:
        ok = False
        if payload is not None:
            try:
                ok = wl.check(key, payload)
            except Exception:
                traceback.print_exc(file=sys.stderr)
        if not ok:
            print(f"check failed: {wl.name} {key}", file=sys.stderr)
            failed += 1
    return failed


def _end_to_end(wl, passes, setups, rss) -> dict:
    return {
        "setup_s": (statistics.median(setups), "s"),
        "wall_s": (wl.pass_time(passes), "s"),
        "ingest_rows_per_s": (wl.ingest_rate(), "1/s"),
        "peak_rss_mb": (rss, "MB"),
    }


# layers whose self time the traced run reports; a layer a workload does not
# exercise reports 0
LAYERS = (
    "sources.tables",
    "extract",
    "operators.spatial_join",
    "operators.knn",
    "operators.kde",
    "operators.raster",
    "operators.range_query",
    "plans.index_select",
    "plans.cql_route",
)
SCAN_LAYERS = ("operators.range_query", "plans.index_select", "plans.cql_route")
JOIN_CALLS = ("pip_join.fixed", "pip_join.tiered", "pip_join.hex", "zonal_stats")


def _per_layer(wl, tr, passes, overhead, session_s, gen_s) -> dict:
    spans = [s for s in tr.spans if s.kind in ("op", "plan", "exec")]
    iso = [s for s in tr.spans if s.kind == "isolation"]
    notes = {k: sum(v) for k, v in tr.notes.items()}
    n = len(passes)

    def total(pred, attr="dur"):
        return sum(getattr(s, attr) for s in spans if pred(s))

    def per_pass(pred, attr="dur"):
        return total(pred, attr) / n

    def per_call(key):
        return notes.get(key, 0.0) / max(len(tr.notes.get(key, [])), 1)

    def ratio(a, b):
        return notes.get(a, 0.0) / notes[b] if notes.get(b) else 0.0

    def rate(count_key, seconds):
        return notes.get(count_key, 0.0) / seconds if seconds > 0 else 0.0

    def iso_s(name):
        return sum(s.dur for s in iso if s.name == name)

    def op_s(key):
        return total(lambda s: s.kind == "op" and s.name == key)

    m = {
        "session.start_s": (session_s, "s"),
        "datagen.gen_s": (gen_s, "s"),
        "trace.wall_s": (wl.pass_time(passes), "s"),
        "trace.overhead_s": (overhead, "s"),
        "driver.plan_s": (per_pass(lambda s: s.kind == "plan"), "s"),
        "executor.exec_s": (per_pass(lambda s: s.kind == "exec"), "s"),
        "spark.jobs": (per_pass(lambda s: True, "jobs"), "count"),
        "spark.tasks": (per_pass(lambda s: True, "tasks"), "count"),
        "spark.failed_tasks": (per_pass(lambda s: True, "failed_tasks"), "count"),
    }
    for layer in LAYERS:
        m[f"{layer}.self_s"] = (per_pass(lambda s: s.layer == layer, "self_s"), "s")
    for layer in SCAN_LAYERS:
        lat = [s.dur for s in spans if s.kind == "op" and s.layer == layer]
        m[f"{layer}.p50_ms"] = (statistics.median(lat or [0.0]) * 1000.0, "ms")
    m["sources.tables.write_s"] = (
        statistics.median(
            [s.dur for s in tr.spans if s.layer == "sources.tables" and s.kind != "op"] or [0.0]
        ),
        "s",
    )
    m["sources.tables.bytes_per_input_byte"] = (
        ratio("sources.tables.written", "sources.tables.input"),
        "ratio",
    )
    m["sources.tables.files"] = (per_call("sources.tables.files"), "count")
    m["extract.docs_per_s"] = (rate("extract.docs", iso_s("with_geometry")), "1/s")
    m["operators.indexing.points_per_s"] = (
        rate("operators.indexing.points", iso_s("with_point_cells")),
        "1/s",
    )
    m["operators.indexing.hex_points_per_s"] = (
        rate("operators.indexing.hex_points", iso_s("with_hex_bins")),
        "1/s",
    )
    m["operators.indexing.extents_per_s"] = (
        rate("operators.indexing.extents", iso_s("with_insertion_cells")),
        "1/s",
    )
    for call in JOIN_CALLS:
        short = call.removeprefix("pip_join.")
        pre = f"operators.spatial_join.{short}"
        m[f"{pre}.plan_s"] = (per_pass(lambda s: s.name == call and s.kind == "plan"), "s")
        m[f"{pre}.exec_s"] = (per_pass(lambda s: s.name == call and s.kind == "exec"), "s")
        m[f"{pre}.jobs"] = (per_pass(lambda s: s.name == call and s.kind != "op", "jobs"), "count")
    m["operators.spatial_join.rows_per_s"] = (
        rate("operators.spatial_join.rows", op_s("pip") + op_s("zonal")),
        "1/s",
    )
    m["operators.spatial_join.refine_yield"] = (
        ratio("operators.spatial_join.fixed_rows", "operators.spatial_join.candidates"),
        "ratio",
    )
    knn = lambda s: s.name == "knn_join_adaptive"  # noqa: E731
    m["operators.knn.plan_s"] = (per_pass(lambda s: knn(s) and s.kind == "plan"), "s")
    m["operators.knn.exec_s"] = (per_pass(lambda s: knn(s) and s.kind == "exec"), "s")
    m["operators.knn.jobs"] = (per_pass(knn, "jobs"), "count")
    m["operators.knn.queries_per_s"] = (rate("operators.knn.queries", op_s("knn")), "1/s")
    kde = lambda s: s.layer == "operators.kde" and s.kind != "op"  # noqa: E731
    m["operators.kde.exec_s"] = (per_pass(lambda s: kde(s) and s.kind == "exec"), "s")
    m["operators.kde.jobs"] = (per_pass(kde, "jobs"), "count")
    m["operators.kde.tasks"] = (per_pass(kde, "tasks"), "count")
    m["operators.kde.points_per_s"] = (rate("operators.kde.points", op_s("kde")), "1/s")
    ras = lambda s: s.layer == "operators.raster" and s.kind != "op"  # noqa: E731
    m["operators.raster.exec_s"] = (per_pass(lambda s: ras(s) and s.kind == "exec"), "s")
    m["operators.raster.jobs"] = (per_pass(ras, "jobs"), "count")
    m["operators.range_query.rows_examined_per_row"] = (
        ratio("operators.range_query.examined", "operators.range_query.returned"),
        "ratio",
    )
    for name in ("routed_points_query", "cql_routed_query"):
        layer = "plans.index_select" if name == "routed_points_query" else "plans.cql_route"
        calls = [s.dur for s in spans if s.name == name]
        m[f"{layer}.plan_s"] = (statistics.median(calls or [0.0]), "s")
    m["sfc.tiered.ranges_per_query"] = (per_call("sfc.tiered.ranges"), "count")
    m["sfc.tiered.decompose_s"] = (
        iso_s("decompose_query_ranges") / max(len(tr.notes.get("sfc.tiered.ranges", [])), 1),
        "s",
    )
    return m


def _self_times(tr) -> dict:
    out: dict[str, float] = {}
    for s in tr.spans:
        out[s.layer] = out.get(s.layer, 0.0) + s.self_s
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (REPO / "geowave_spark" / "__init__.py").is_file():
        print(f"engine package geowave_spark not found under {REPO}", file=sys.stderr)
        return 2
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _pin_environment(work)
    wl = WORKLOADS[args.workload](args.seed, work / "data", _cores())
    tr = Tracer(enabled=False)
    spark = None
    try:
        setups, gens = [], []
        for rep in range(SETUP_REPS):
            tr.enabled = bool(args.trace) and rep == SETUP_REPS - 1
            spark, t, t_session, t_gen = _setup(wl, tr, work, spark)
            if rep == 0:
                session_s = t_session
            setups.append(t)
            gens.append(t_gen)

        tr.enabled = False
        wl.warm_up(tr)
        log: list = []
        passes: list[list[tuple[str, float]]] = []
        tr.enabled = bool(args.trace)
        overhead0 = tr.overhead_s
        cpu0 = _cpu_times()
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < args.seconds:
            passes.append(_run_pass(wl, tr, len(passes), log))
        measure_s = time.perf_counter() - t_start
        overhead = (tr.overhead_s - overhead0) / len(passes)
        cpu = [b - a for a, b in zip(cpu0, _cpu_times())]
        rss = _jvm_peak_rss_mb(spark)

        if args.trace:
            wl.isolate(spark, tr, {k: p.num_rows for k, _, p in log if hasattr(p, "num_rows")})
            tr.collect_counters()

        t_checks = time.perf_counter()
        failed = _check(wl, log)
        phases = {
            "setup": sum(setups),
            "measure": measure_s,
            "checks": time.perf_counter() - t_checks,
        }
        env = _environment(spark)
        env.update(workload=args.workload, seed=args.seed, passes=len(passes), ops=len(log))
        env["setup_s"] = [round(t, 3) for t in setups]
        # host CPU shares while measuring: busy (user+system) and stolen
        env["cpu_busy_steal"] = [round(v / sum(cpu), 3) for v in (cpu[0] + cpu[2], cpu[7])]
        env["phases_s"] = {k: round(v, 3) for k, v in phases.items()}
        env["op_s"] = [(k, round(d, 3)) for k, d, _ in log]
        print(json.dumps({"env": env}))
        if args.trace:
            metrics = _per_layer(wl, tr, passes, overhead, session_s, statistics.median(gens))
            out = HERE / ".work" / "traces"
            out.mkdir(parents=True, exist_ok=True)
            (out / f"{args.workload}-seed{args.seed}.json").write_text(
                json.dumps(
                    {
                        "env": env,
                        "tracing_overhead_s_per_pass": overhead,
                        "self_s_by_layer": _self_times(tr),
                        "spans": tr.dump(),
                        "notes": tr.notes,
                    },
                    indent=1,
                )
            )
        else:
            metrics = _end_to_end(wl, passes, setups, rss)
    finally:
        wl.close()
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": failed == 0,
        "attempted": len(log),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    print(f"run took {time.perf_counter() - T0:.1f} s", file=sys.stderr)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
