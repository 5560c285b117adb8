"""Benchmark entry point.

    python3 perfbench/run.py --workload images_batch --seed 1 \
        --seconds 20 --trace 0

Runs one workload of BENCHMARK.json in a fresh Spark session at
local[<cores>], where <cores> is $SPARK_GRAFT_CPUS or else the number of
CPUs this process may run on. With ``--trace 0`` it reports the
end-to-end metrics; with ``--trace 1`` it enables Spark's event log and
reports the per-layer metrics instead. The last line of standard output
is the result object; the line before it gives the host shape and the
details behind the numbers. Everything the run writes lives under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "ordinarydumpdeduplicator_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# per-layer names whose window key reads differently in the metric name
_WINDOW_ALIASES = {"stream.jobs": "stream.jobs_per_batch"}

sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.trace import (  # noqa: E402
    WINDOW_KEYS,
    EventLog,
    MemorySampler,
    Tracer,
    tree_pids,
    find_event_log,
)


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _mem_total_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _configure_env(work: str) -> dict:
    """Host-safe launch settings, exported before the JVM starts so the
    driver JVM and every Python worker inherit them."""
    nproc = len(os.sched_getaffinity(0))
    graft = os.environ.get("SPARK_GRAFT_CPUS")
    old = os.environ.get("PYTHONPATH")
    # workers import the engine from any working directory
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    # the session factory defaults to a 16g driver, more than a small
    # host has. 2g (a quarter of RAM on smaller hosts) leaves headroom
    # at these input sizes, so the heap grows with what the engine
    # allocates instead of sitting at its cap; the detail line gives
    # the committed heap against its cap.
    mem_mib = min(2048, int(_mem_total_gib() * 1024) // 4)
    os.environ.setdefault("ODD_SPARK_DRIVER_MEM", f"{mem_mib}m")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    return dict(
        nproc=nproc,
        cores=int(graft) if graft else nproc,
        SPARK_GRAFT_CPUS=graft,
        driver_memory=os.environ["ODD_SPARK_DRIVER_MEM"],
    )


def _heap_mib(spark) -> dict[str, float]:
    """The driver JVM's committed heap, peak used heap and heap cap."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    peak = sum(
        pool.getPeakUsage().getUsed()
        for pool in mf.getMemoryPoolMXBeans()
        if str(pool.getType()) == "Heap memory"
    )
    rt = jvm.java.lang.Runtime.getRuntime()
    return dict(
        committed=rt.totalMemory() / 2**20,
        peak_used=peak / 2**20,
        max=rt.maxMemory() / 2**20,
    )


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, then wait for every process they
    started (the Python worker daemon outlives the JVM briefly)."""
    from pyspark import SparkContext

    spawned = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits on end of stdin
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 15
    while True:
        alive = [p for p in spawned if _alive(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 15
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _layer_metrics(out, latencies, events_dir) -> dict[str, float]:
    layers = {k: stats.median(v) for k, v in out.layers.items()}
    log = EventLog.read(find_event_log(events_dir))
    for name, windows in out.windows.items():
        totals = [log.window(a, b) for a, b in windows]
        for key in WINDOW_KEYS:
            metric = f"{name}.{key}"
            layers[_WINDOW_ALIASES.get(metric, metric)] = stats.median(
                [t[key] for t in totals]
            )
    layers["trace.op_latency_p50_s"] = stats.median(latencies)
    return layers


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(
            f"perfbench: the {PACKAGE} package is not in this checkout",
            file=sys.stderr,
        )
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench.workloads import WORKLOADS, Ctx, Outcome

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer(enabled=bool(args.trace))
    try:
        host = _configure_env(work)
        with MemorySampler() as mem:
            t0 = time.time()
            from ordinarydumpdeduplicator_spark.session import get_spark

            spark = get_spark(
                f"perfbench-{args.workload}",
                cores=host["cores"],
                extra_conf=_spark_conf(work, tracer.enabled),
            )
            session_s = time.time() - t0
            host.update(master=spark.sparkContext.master, spark=spark.version)
            try:
                out = WORKLOADS[args.workload](
                    Ctx(spark, work, args.seed, args.seconds, tracer, mem)
                )
                host.update(jvm_heap_mib=_heap_mib(spark))
            except Exception:  # report the failed run, then clean up
                traceback.print_exc()
                out = Outcome(attempted=1, failed=1, problems=["workload raised"])
            finally:
                mem.stop()
                t_stop = time.time()
                _shutdown(spark)
                out.phase("shutdown_s", time.time() - t_stop)
        out.phase("session_s", session_s)
        out.phase("cold_s", out.cold_s)
        out.phase("timed_s", sum(out.latencies))
        lat = out.latencies
        correct = not out.problems and bool(lat)
        detail = dict(
            workload=args.workload,
            seed=args.seed,
            trace=args.trace,
            host=host,
            timed_ops=len(lat),
            latencies=lat,
            failed_frac=out.failed / max(out.attempted, 1),
            phases=out.phases,
            problems=out.problems[:20],
        )
        values: dict[str, float] = {}
        if lat:
            tail, pct, n = stats.tail(lat)
            detail.update(tail_percentile=pct, tail_samples=n)
            values = dict(
                setup_s=session_s + out.setup_s,
                items_per_s=stats.items_per_s(out.rows, lat),
                cold_wall_s=out.cold_s,
                batch_latency_p50_s=stats.median(lat),
                batch_latency_tail_s=tail,
                peak_rss_mib=mem.peak / 2**20,
                ok_frac=1.0 - out.failed / out.attempted,
            )
            if tracer.enabled:
                values = _layer_metrics(out, lat, os.path.join(work, "events"))
                # every layer value, also those BENCHMARK.json does not list
                detail.update(layers=values)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)

    wanted = spec["per_layer"] if tracer.enabled else spec["end_to_end"]
    # a layer this workload never calls reads 0: no job, byte or second
    # of the run was spent in it
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps(detail))
    print(json.dumps(dict(
        correct=correct,
        attempted=out.attempted,
        failed=out.failed,
        metrics=metrics,
    )))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
