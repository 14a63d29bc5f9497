"""Benchmark entry point: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload similarity_pins --seed 1 --seconds 12 --trace 0

Run from the repository root. The run generates its inputs from the seed
(``perfbench/datagen.py``), starts the program's own session
(``session.get_spark`` on ``local[<cores>]``), checks every query of the
workload once against its DuckDB oracle, warms up until pass times are
steady, then measures passes for ``--seconds``. Load is a closed loop with
one client: each pass runs every query of the workload once, in an order
fixed by the seed, as ``queries()[name](spark, data_dir)`` written to the
``noop`` sink. Nothing is reused between executions.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). A detail object goes to stderr. NOTES.md
defines every metric.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# After the cold pass, warm passes run for at least MIN_WARM_S (and at least
# two of them), so every run enters its window at a like point of the JIT
# transient; then on until the last two agree within WARM_TOL, or MAX_WARM_S.
MIN_WARM_S = 15.0
MAX_WARM_S = 30.0
WARM_TOL = 0.15
DRIVER_MEMORY = "2g"
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "query_tail_s": "s",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pass_order(workload: str, seed: int, pass_no: int, queries) -> list[str]:
    """The order of one pass depends only on (workload, seed, pass number)."""
    order = list(queries)
    random.Random(f"{workload}/{seed}/{pass_no}").shuffle(order)
    return order


class Runner:
    def __init__(self, spark, entry, data_dir: str, workload: str, seed: int):
        self.spark, self.data_dir = spark, data_dir
        self.fns, self.oracles = entry.queries(), entry.oracle_sql()
        self.workload, self.seed = workload, seed
        self.queries = WORKLOADS[workload].queries
        self.pass_no = 0
        self.failures: list[str] = []

    def one_pass(self, tracer=None, collect=False):
        """Run every query once; returns (wall seconds, [(query, latency)],
        {query: pandas result} when ``collect``, errors)."""
        samples, results, errors = [], {}, 0
        t0 = time.perf_counter()
        for name in pass_order(self.workload, self.seed, self.pass_no, self.queries):
            ctx = tracer.execution(name, self.pass_no) if tracer else contextlib.nullcontext()
            with ctx:
                t = time.perf_counter()
                try:
                    with tracer.build() if tracer else contextlib.nullcontext():
                        df = self.fns[name](self.spark, self.data_dir)
                    with tracer.span("write", "write") if tracer else contextlib.nullcontext():
                        if collect:
                            results[name] = df.toPandas()
                        else:
                            df.write.format("noop").mode("overwrite").save()
                except Exception:  # a failed execution is counted, not fatal
                    errors += 1
                    self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
                    continue
                samples.append((name, time.perf_counter() - t))
        self.pass_no += 1
        return time.perf_counter() - t0, samples, results, errors


def steal_s() -> float:
    """CPU time the host gave to other guests (all cores), from /proc/stat;
    a run disturbed from outside shows it in the stderr detail."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def start_session(work: str):
    from kommunedata_data_pipeline_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        },
    )


def stop_session(spark) -> None:
    """Stop the context, then the JVM the session launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)  # unwinds through main's cleanup


def main(argv=None) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    try:
        import __spark_entry__ as entry
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    detail: dict = {"workload": args.workload, "seed": args.seed, "cores": cores}
    spark = None
    try:
        t = time.perf_counter()
        data_dir = os.path.join(work, "data")
        from perfbench import datagen

        detail["rows"] = datagen.generate(data_dir, args.seed, wl.sf)
        datagen_s = time.perf_counter() - t

        t = time.perf_counter()
        spark = start_session(work)
        session_start_s = time.perf_counter() - t
        runner = Runner(spark, entry, data_dir, args.workload, args.seed)

        # warm-up: the cold pass collects every result for the oracle check
        t_warm = time.perf_counter()
        wall, _, results, errors = runner.one_pass(collect=True)
        warm_walls = [wall]
        t = time.perf_counter()
        mismatches = check_outputs(runner, data_dir, results)
        oracle_s = time.perf_counter() - t
        t_warm_passes = time.perf_counter()
        while (
            time.perf_counter() - t_warm_passes < MIN_WARM_S
            or len(warm_walls) < 3
            or (not stats.steady(warm_walls, WARM_TOL)
                and time.perf_counter() - t_warm_passes < MAX_WARM_S)
        ):
            wall, _, _, err = runner.one_pass()
            warm_walls.append(wall)
            errors += err
        warm_s = time.perf_counter() - t_warm - oracle_s
        setup_s = time.perf_counter() - T_START - datagen_s - oracle_s

        tracer = None
        if args.trace:
            from perfbench.trace import LAYER_METRICS, Tracer

            tracer = Tracer(spark, os.path.join(work, "eventlog"))
        walls, traced_walls, samples = [], [], []
        steal0 = steal_s()
        t_win = time.perf_counter()
        while (time.perf_counter() - t_win < args.seconds or not walls
               or (tracer is not None and not traced_walls)):
            traced = tracer is not None and runner.pass_no % 2 == 1
            if traced:
                tracer.attach()
            wall, s, _, err = runner.one_pass(tracer=tracer if traced else None)
            if traced:
                tracer.detach()
            (traced_walls if traced else walls).append(wall)
            samples.extend(s)
            errors += err
        detail.update(window_s=time.perf_counter() - t_win, window_steal_s=steal_s() - steal0)
        attempted = runner.pass_no * len(wl.queries)
        failed = errors + len(mismatches)

        if tracer is None:
            tail, pct, n = stats.query_tail(samples)
            metrics = {
                "setup_s": setup_s,
                "pass_s": statistics.median(walls),
                "query_geomean_s": stats.query_geomean(samples),
                "query_tail_s": tail,
            }
            units = END_TO_END
            detail.update(tail_percentile=pct, tail_samples=n)
        else:
            tracer.finish()
            metrics = tracer.layer_metrics()
            metrics["session.start_s"] = session_start_s
            metrics["session.warm_s"] = warm_s
            metrics["trace.overhead"] = (
                statistics.median(traced_walls) / statistics.median(walls) if traced_walls else 1.0
            )
            units = {m: u for m, (u, _b, _p) in LAYER_METRICS.items()}
            metrics = {m: metrics.get(m, 0.0) for m in units}
        detail.update(
            datagen_s=datagen_s, session_start_s=session_start_s, warm_s=warm_s,
            oracle_s=oracle_s, warm_passes=warm_walls, window_passes=walls,
            latencies={q: [lat for n, lat in samples if n == q] for q in wl.queries},
            traced_passes=traced_walls, drift=stats.drift(walls),
            mismatches=mismatches, failures=runner.failures,
        )
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m: {"value": float(metrics[m]), "unit": u} for m, u in units.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still be using it
            os.rmdir(os.path.dirname(work))
    # printed once the JVM is gone, so nothing it writes can follow the result
    print(json.dumps(detail), file=sys.stderr, flush=True)
    print(json.dumps(result), flush=True)
    return 0


def check_outputs(runner: Runner, data_dir: str, results: dict) -> dict[str, str]:
    """{query: first difference} against the DuckDB oracles."""
    from perfbench.oracle import Oracle

    oracle = Oracle(data_dir)
    try:
        out = {}
        for name in runner.queries:
            if name not in results:  # it raised, and is counted as failed already
                continue
            diff = oracle.mismatch(runner.oracles[name], results[name])
            if diff is not None:
                out[name] = diff
        return out
    finally:
        oracle.close()


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    sys.exit(main())
