"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload drip --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The launcher fits
Spark to the host (cores, driver heap from MemTotal, local dirs), keeps
every file it writes under ``.perfbench/`` in the checkout, stops the
JVM and its Python workers before exiting, and prints the settings, the
workload's own metrics, and finally the JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the per-layer ones, and the spans are written to
``.perfbench/out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dat_archive_map_reduce_spark"
# a run must end within 180 s; past this the watchdog tears it down
WATCHDOG_S = 175.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("drip", "analytics"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--size",
        choices=("standard", "tiny"),
        default="standard",
        help="tiny runs every workload and check in seconds (self-tests)",
    )
    return p.parse_args(argv)


def mem_total_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fit_to_host(tmp: str) -> dict[str, str]:
    """Environment for the Spark launch, sized from this host."""
    cpus = len(os.sched_getaffinity(0))
    # a quarter of RAM, 1..6 GiB: the session default (16g) can exceed
    # what a shared host has free
    heap_gib = max(1, min(6, int(mem_total_gib() // 4)))
    java_tmp = os.path.join(tmp, "java-tmp")
    for d in ("spark-local", "java-tmp", "tmp"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gib}g",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": os.path.join(tmp, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={java_tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }


def stop_processes(spark) -> None:
    """Stop Spark, end the JVM, and reap every process this one started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        try:
            spark.stop()
        except Exception as e:  # keep tearing down
            print(f"spark.stop failed: {e!r}", file=sys.stderr)
    if gateway is not None:
        proc = gateway.proc
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    kill_descendants()


def kill_descendants() -> None:
    from perfbench.probes import descendants

    deadline = time.time() + 10
    while True:
        kids = descendants(os.getpid())
        if not kids:
            return
        sig = signal.SIGKILL if time.time() > deadline else signal.SIGTERM
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)


def _watchdog(tmp: str) -> threading.Timer:
    def fire():
        print(f"perfbench: run exceeded {WATCHDOG_S:.0f}s, aborting", file=sys.stderr)
        kill_descendants()
        shutil.rmtree(tmp, ignore_errors=True)
        os._exit(3)

    timer = threading.Timer(WATCHDOG_S, fire)
    timer.daemon = True
    return timer


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(os.path.join(base, "out"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    watchdog = _watchdog(tmp)
    watchdog.start()
    spark = None
    try:
        env = fit_to_host(tmp)
        os.environ.update(env)
        t_start = time.perf_counter()
        from dat_archive_map_reduce_spark import get_spark

        from perfbench import corpus, probes, workloads

        spark = get_spark("perfbench")
        spark.range(1).count()
        session_s = time.perf_counter() - t_start
        ctx = workloads.Ctx(
            spark=spark,
            root=ROOT,
            tmp=tmp,
            seed=args.seed,
            size=corpus.SIZES[args.size],
            seconds=args.seconds,
            trace=bool(args.trace),
            t_start=t_start,
            session_s=session_s,
        )
        run = workloads.WORKLOADS[args.workload]
        with probes.RssSampler(ctx.jvm.pid) as rss:
            run(ctx)
        rep = ctx.report
        if args.trace:
            rep.layer["session.start_s"] = session_s
            rep.layer["jvm.rss_peak_mb"] = rss.jvm_peak_mb
            rep.layer["python.rss_peak_mb"] = rss.python_peak_mb
            rep.layer["trace.spans"] = len(ctx.tracer.spans)
            stem = os.path.join(base, "out", f"{args.workload}-seed{args.seed}")
            ctx.tracer.write(stem + ".spans.jsonl")
            with open(stem + ".self_times.json", "w") as f:
                json.dump(ctx.tracer.self_times(), f, indent=1, sort_keys=True)
    finally:
        stop_processes(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        watchdog.cancel()

    settings = dict(env, workload=args.workload, seed=args.seed, size=args.size,
                    seconds=args.seconds, trace=args.trace)
    print("settings " + json.dumps(settings, sort_keys=True))
    for name, value, unit, n in rep.detail:
        print(f"metric {args.workload} {name} = {value:.6g} {unit} (n={n})")
    attempted = max(1, rep.attempted)
    print(f"metric {args.workload} failed_ratio = {rep.failed / attempted:.6g} ratio (n={attempted})")
    for f in rep.failures:
        print(f"failure: {f}", file=sys.stderr)
    if args.trace:
        units, values = workloads.PER_LAYER, rep.layer
    else:
        units, values = workloads.E2E, rep.e2e
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    print(
        json.dumps(
            {
                "correct": rep.failed == 0 and rep.attempted > 0,
                "attempted": attempted,
                "failed": rep.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
