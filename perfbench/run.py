"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline_daily --seed 1 --seconds 1 --trace 0

Run from the repository root. Builds the workload's inputs from
``--seed``, sets up, runs timed iterations for ``--seconds`` seconds
(at least one), checks every output, and prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is the full run record, which is also written to
``.perfbench/results/``, keyed by workload, seed, cpu count and trace
flag. Everything the run writes stays under ``.perfbench/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "stripe_data_pipeline_spark")
OUT = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "3g"  # the driver JVM heap; the 4-core reference box has 15 GB shared


def _declared(section: str) -> list[dict]:
    """The metrics ``BENCHMARK.json`` declares in ``section``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[section]


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str, cpus: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run's work directory, and let Python workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
    )


def _spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }


def _source_digest() -> str:
    h = hashlib.sha256()
    for d, dirs, names in os.walk(PACKAGE):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                path = os.path.join(d, n)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None  # an exported checkout: the source digest identifies it
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _peak_heap_mb(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    pools = mf.getMemoryPoolMXBeans()
    heap = spark._jvm.java.lang.management.MemoryType.HEAP
    return sum(
        pools.get(i).getPeakUsage().getUsed() for i in range(pools.size()) if pools.get(i).getType() == heap
    ) / 2**20


def _loop(wl, seconds: float):
    """Closed loop: iterate until ``seconds`` have passed, at least once.
    Returns each iteration's timed seconds (the sum of its operations),
    its untimed seconds (restores and checks) and every operation."""
    walls, untimed, ops = [], [], []
    t0 = time.perf_counter()
    while True:
        wl.tracer.iteration = len(walls)
        t = time.perf_counter()
        try:
            it_ops = wl.iteration()
        except Exception as e:  # noqa: BLE001 — a raising iteration is a failed operation
            it_ops = [("iteration", 0.0, [f"raised {type(e).__name__}: {e}"])]
        else:
            walls.append(sum(op_s for _, op_s, _ in it_ops))
            untimed.append(time.perf_counter() - t - walls[-1])
        ops += it_ops
        if time.perf_counter() - t0 >= seconds:
            break
    return walls, untimed, ops


def _untraced_baseline(workload: str, cpus: str) -> float | None:
    """Median iteration time of the earlier untraced runs of this
    workload on the same cpu count and program source, if any."""
    digest = _source_digest()
    walls = []
    for path in glob.glob(os.path.join(OUT, "results", f"{workload}.seed*.cpus{cpus}.trace0.json")):
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        if rec.get("source_digest") == digest:
            walls.append(rec["end_to_end"]["iteration_s"])
    return statistics.median(walls) if walls else None


def _query_geomean_ms(ops, queries) -> float:
    """Geometric mean over query kinds of each kind's median latency:
    every kind weighs the same, whatever its cost or call count."""
    by_kind: dict[str, list[float]] = {}
    for name, seconds, _ in ops:
        if name in queries:
            by_kind.setdefault(name, []).append(seconds)
    return 1e3 * statistics.geometric_mean(statistics.median(ts) for ts in by_kind.values())


def main(argv=None) -> int:
    args = _parse(argv)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    key = f"{args.workload}.seed{args.seed}.cpus{cpus}.trace{args.trace}"
    if not os.path.isdir(PACKAGE):
        print(f"no package at {PACKAGE}; run from the repository root", file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"work-{os.getpid()}")
    _environment(work, cpus)
    sys.path.insert(0, ROOT)
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS
    from stripe_data_pipeline_spark.session import get_spark

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    load_start = os.getloadavg()
    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=_spark_conf(work))
        start_s = time.perf_counter() - t
        tracer = Tracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        setup = wl.setup()
        setup_s = time.perf_counter() - T_START - setup.get("check_s", 0.0)

        layers = {}
        tracer.enabled = bool(args.trace)
        undo = wl.trace_hooks() if args.trace else (lambda: None)
        try:
            walls, untimed, ops = _loop(wl, args.seconds)
        finally:
            undo()
        problems = sorted({p for _, _, ps in ops for p in ps})
        if not walls:
            print("every iteration raised:", *problems, sep="\n", file=sys.stderr)
            return 1
        record = {"iterations": len(walls)}
        if args.trace:
            n = len(walls)
            layers = wl.traced_layers(n)
            compute_s = wl.compute_pass_s(n)
            bookkeeping_s = tracer.cost_s / n
            # what tracing adds to an iteration, measured in this run
            layers["tracing.overhead_s"] = compute_s + bookkeeping_s
            untraced = _untraced_baseline(args.workload, cpus)
            record["overhead"] = {
                "compute_pass_s": compute_s,
                "bookkeeping_s": bookkeeping_s,
                # informational only: other processes, so run-to-run noise
                "untraced_iteration_s": untraced,
                "traced_minus_untraced_s": None if untraced is None else statistics.median(walls) - untraced,
            }
            os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
            tracer.write(os.path.join(OUT, "results", f"{key}.spans.jsonl"))
        layers |= {"session.start_s": start_s, "warm_s": setup["warm_s"], "driver.peak_heap_mb": _peak_heap_mb(spark)}

        failed = sum(1 for _, _, ps in ops if ps)
        end_to_end = {
            "setup_s": setup_s,
            "iteration_s": statistics.median(walls),
            "query_geomean_ms": _query_geomean_ms(ops, wl.QUERIES),
        }
        record |= {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cpus": int(cpus),
            "driver_memory": DRIVER_MEM,
            "spark_version": spark.version,
            "python_version": platform.python_version(),
            "commit": _commit(),
            "source_digest": _source_digest(),
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "samples": {"iterations": len(walls), "operations": len(ops)},
            "op_seconds": [(name, seconds) for name, seconds, _ in ops],
            "untimed_s": untimed,
            "wall_before_stop_s": time.perf_counter() - T_START,
            "end_to_end": end_to_end,
            "workload_metrics": wl.summary() | {"error_rate": failed / max(len(ops), 1)},
            "per_layer": layers,
            "problems": problems[:20],
            "setup": setup,
        }
        wl.close()
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{key}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        metrics = {m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]} for m in _declared("per_layer")}
    else:
        metrics = {m["name"]: {"value": end_to_end[m["name"]], "unit": m["unit"]} for m in _declared("end_to_end")}
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
