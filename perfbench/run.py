"""Benchmark of the extraction job and the curation funnel.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload lake_extract --seed 1 --seconds 5 --trace 0

Workloads: lake_extract, warc_extract, curate (see perfbench/README.md).
Each run generates (or reuses from ``.perfbench_work/inputs``) its seeded
input, starts Spark at ``local[<cpus>]``, sets up once (session, input
registration, warm-up passes), times whole rounds of passes for about
``--seconds`` seconds, checks every pass's output and prints one JSON
object as its last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.
``--trace 1`` alternates untraced and traced passes, probes every layer
once and reports the per-layer metrics plus the tracing overhead; its
spans and Spark counters go to
``.perfbench_work/trace-<workload>-<seed>.json``.  ``--smoke`` uses tiny
inputs and half the minimum passes (for the benchmark's own tests).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WARMUPS = 1          # untimed pass closing the set-up
MIN_PASSES = 2       # timed passes per run, at least
TRACE_MIN_PASSES = 4  # traced runs: two untraced and two traced, at least

def process_start_epoch() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def metric_units() -> tuple[dict, dict]:
    """(end_to_end, per_layer): metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def width() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["lake_extract", "warc_extract", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    ap.add_argument("--work", default=os.path.join(ROOT, ".perfbench_work"),
                    help="inputs cache, Spark scratch, outputs and traces")
    return ap.parse_args(argv)


def environment(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    *work*, and let the workers import the checkout's packages."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)


def spark_conf(work: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
    }


def shutdown(spark, me: int, wait_s: float = 60.0) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes) and
    wait until no process this run started is left."""
    import procstat
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=wait_s)
    deadline = time.time() + wait_s
    while len(procstat.tree_pids(me)) > 1 and time.time() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    t_process = process_start_epoch()
    args = parse_args(argv)
    work = os.path.abspath(args.work)
    environment(work)
    import cc_extract  # noqa: F401  (fails outside a full checkout)
    import procstat
    import workloads
    from tracing import Tracer

    wl = workloads.WORKLOADS[args.workload](args.seed, args.smoke, work)
    t0 = time.time()
    wl.prepare()
    prep_s = time.time() - t0  # the benchmark's own work, not set-up

    from cc_extract.session import build_session

    end_to_end, per_layer = metric_units()
    cpus = width()
    tr = Tracer(False, wl.name)
    problems: list[str] = []
    check_s = 0.0

    def checked(result) -> int:
        """Check one pass; returns its failed operations."""
        nonlocal check_s
        t = time.time()
        bad, n_failed = wl.check(result)
        problems.extend(bad)
        check_s += time.time() - t
        return n_failed

    # ---- set-up, from process start: session, input registration and
    # warm-up passes (input generation and output checks excluded)
    tr.enabled = args.trace == 1
    spark = tr.call("session.build_session", build_session, cpus=cpus,
                    app_name=f"perfbench-{wl.name}", extra_conf=spark_conf(work))
    tr.enabled = False
    spark.sparkContext.setLogLevel("ERROR")
    tr.sc = spark.sparkContext
    wl.register(spark)
    for w in range(WARMUPS):
        checked(wl.run_pass(spark, tr, -1 - w))
    setup_s = time.time() - t_process - prep_s - check_s
    print(f"setup: {setup_s:.3f} s (input generation {prep_s:.3f} s excluded)", flush=True)

    # ---- timed rounds
    me = os.getpid()
    walls, traced_walls, untraced_walls = [], [], []
    cpu_s, docs, mb = 0.0, 0, 0.0
    attempted = failed = 0
    min_passes = (TRACE_MIN_PASSES if args.trace else MIN_PASSES) // (2 if args.smoke else 1)
    t_begin = time.time()
    while time.time() - t_begin < args.seconds or len(walls) < min_passes:
        for op in wl.round_ops:
            if op == "chain":
                attempted += 1
                tr.enabled = args.trace == 1
                if not wl.run_chain(spark, tr):
                    failed += 1
                continue
            attempted += wl.ops_per_pass
            k = len(walls)
            tr.enabled = args.trace == 1 and k % 2 == 1
            tr.pass_no = k
            c0, j0 = procstat.tree_cpu_s(me), procstat.cpu_jiffies()
            t = time.perf_counter()
            result = wl.run_pass(spark, tr, k)
            wall = time.perf_counter() - t
            j1, c1 = procstat.cpu_jiffies(), procstat.tree_cpu_s(me)
            walls.append(wall)
            (traced_walls if tr.enabled else untraced_walls).append(wall)
            cpu_s += c1 - c0
            docs += wl.docs_per_pass
            mb += wl.mb_per_pass
            failed += checked(result)
            print(f"pass {k}: {wall:.3f} s, cpu {c1 - c0:.2f} s, "
                  f"steal {procstat.steal_fraction(j0, j1):.4f}, width {cpus}, "
                  f"traced {int(tr.enabled)}", flush=True)
    tr.pass_no = None

    if args.trace:
        tr.enabled = True
        measured = wl.layers(spark, tr)
        measured["session.build_session_s"] = tr.durations("session.build_session")[0]
        measured["trace.overhead_pct"] = 100.0 * (
            statistics.median(traced_walls) / statistics.median(untraced_walls) - 1.0)
        unknown = set(measured) - set(per_layer)
        if unknown:
            raise RuntimeError(f"unlisted per-layer metrics: {sorted(unknown)}")
        metrics = {k: measured.get(k, 0.0) for k in per_layer}
        tr.write(os.path.join(work, f"trace-{wl.name}-{args.seed}.json"))
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(walls),
            "docs_per_s": docs / sum(walls),
            "input_mb_per_s": mb / sum(walls),
            "cpu_s_per_kdoc": cpu_s / (docs / 1000.0),
        }
    shutdown(spark, me)

    for p in problems[:20]:
        print(f"CHECK FAILED: {p}", flush=True)
    print(json.dumps({
        "correct": not problems, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": {**end_to_end, **per_layer}[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
