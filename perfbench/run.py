"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload of ``BENCHMARK.json`` against the library in this
checkout: one driver process, Spark on ``local[<cores>]`` with as many
shuffle partitions, a closed loop (the next call starts only after the
previous one returned).  It makes its inputs from ``--seed``, repeats
the workload's measured rep until ``--seconds`` have passed, checks the
outputs outside the timed regions, and prints one JSON object as the
last line of standard output: end-to-end metrics with ``--trace 0``,
per-layer metrics from spans and Spark's event log with ``--trace 1``.

Everything it writes stays under ``.perfbench_work/`` in the checkout.
See ``perfbench/NOTES.md`` for the metrics and what each should move.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _source_fingerprint() -> str:
    """Hash of the library's and the benchmark's Python sources: the
    ledger of earlier outputs is kept per fingerprint."""
    h = hashlib.sha256()
    for top in ("community_detection_flink_spark", "perfbench"):
        for dirpath, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:12]


def _cpu_times() -> tuple[float, float]:
    """``(busy, stolen)`` CPU-seconds of this host, all CPUs summed:
    time spent running anything, and time the hypervisor gave to other
    guests while the CPUs had work."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields
    hz = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / hz, steal / hz


def _unstolen(seconds: float, busy: float, stolen: float) -> float:
    """Wall ``seconds`` scaled by the share of the CPU time asked for
    that the hypervisor granted: the first-order wall time had no other
    guest taken the CPUs.  Equal to ``seconds`` when nothing was stolen."""
    return seconds * busy / (busy + stolen) if busy + stolen > 0 else seconds


class RepClock:
    """Wall clock of one rep.  Time inside ``untimed()`` is left out;
    ``windows`` keeps the (start, end) epoch stretches that were timed,
    for the traced run's session-wide metrics, and ``busy`` and
    ``stolen`` the host's CPU times inside them (see ``_cpu_times``)."""

    def __init__(self):
        self.timed = self.busy = self.stolen = 0.0
        self.windows: list[tuple[float, float]] = []
        self._resume()

    def _resume(self) -> None:
        self._t0, self._e0, self._c0 = time.perf_counter(), time.time(), _cpu_times()

    def _pause(self) -> None:
        self.timed += time.perf_counter() - self._t0
        busy, stolen = _cpu_times()
        self.busy += busy - self._c0[0]
        self.stolen += stolen - self._c0[1]
        self.windows.append((self._e0, time.time()))

    @contextlib.contextmanager
    def untimed(self):
        self._pause()
        try:
            yield
        finally:
            self._resume()

    def stop(self) -> float:
        self._pause()
        return self.timed


def _live_mb(spark) -> tuple[float, float]:
    """Live memory of the driver in MB: ``(heap, rss)``, the JVM heap in
    use after a full collection and the Python process's resident set.
    Python's collector runs first, so that JVM objects only a dead
    Python object held are released; the JVM collects twice, a second
    apart, so that blocks Spark's ContextCleaner frees on the first
    collection's weak references are gone by the second."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    heap = rt.totalMemory() - rt.freeMemory()
    with open("/proc/self/status") as f:
        rss_kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    return heap / 2**20, rss_kb / 1024.0


def _write_conf(work: str, trace: bool) -> None:
    conf = os.path.join(work, "conf")
    os.makedirs(conf)
    lines = [
        "spark.ui.enabled false",
        "spark.ui.showConsoleProgress false",
    ]
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        lines += [
            "spark.eventLog.enabled true",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
            f"spark.eventLog.dir file://{work}/eventlog",
        ]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    os.environ["SPARK_CONF_DIR"] = conf


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "community_detection_flink_spark", "__init__.py")):
        _fail("library package community_detection_flink_spark not found in the checkout")
    if not os.path.isfile(os.path.join(ROOT, "tests", "pywcc_oracle.py")):
        _fail("tests/pywcc_oracle.py not found in the checkout")
    sys.path.insert(0, ROOT)
    sys.path.append(os.path.join(ROOT, "tests"))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    cache = os.path.join(WORK_ROOT, "cache")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(cache, exist_ok=True)
    _write_conf(work, bool(args.trace))
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_WAREHOUSE_DIR=os.path.join(work, "warehouse"),
        SPARK_DRIVER_MEMORY="2g",
        # every JVM (the launcher too) keeps its files in the run directory
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    try:
        result = run(args, work, cache)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def run(args, work: str, cache: str) -> dict:
    t0, c0 = time.perf_counter(), _cpu_times()
    from pyspark import SparkContext

    import community_detection_flink_spark as cdfs
    import tracer as tr
    from workloads import WORKLOADS, Ledger

    cores = len(os.sched_getaffinity(0))
    spark = cdfs.get_spark(master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    tracer = tr.Tracer(spark, work) if args.trace else None
    mats = itertools.count(1)

    def span(layer, name):
        if tracer is None:
            return contextlib.nullcontext()
        return tracer.span(layer, name, counted=False)

    def new_mat():
        if tracer is not None:
            return tracer.new_mat()
        return cdfs.Materializer(spark, base_dir=os.path.join(work, f"mat-{next(mats)}"))

    wl = WORKLOADS[args.workload](
        spark, args.seed, work, cache, Ledger(cache, _source_fingerprint())
    )
    wl.setup()
    setup_raw = time.perf_counter() - t0
    c1 = _cpu_times()
    setup_s = _unstolen(setup_raw, c1[0] - c0[0], c1[1] - c0[1])
    if tracer is not None:
        tracer.install()

    walls, raw_walls, cpus, steals, windows, rep_overhead = [], [], [], [], [], 0.0
    errors: list[str] = []
    failed = raised = 0
    live = (0.0, 0.0)
    deadline = time.perf_counter() + args.seconds
    while True:
        spark.catalog.clearCache()
        mat = new_mat()
        if tracer is not None:
            ov = tracer.overhead
        else:
            spark.sparkContext.setJobGroup(f"perfbench-rep-{len(walls)}", "measured rep")
        clock = RepClock()
        try:
            wl.rep(mat, span, clock)
        except Exception:
            traceback.print_exc()
            errors.append("a measured rep raised")
            failed = raised = 1
            break
        raw_walls.append(clock.stop())
        walls.append(_unstolen(clock.timed, clock.busy, clock.stolen))
        cpus.append(clock.busy)
        steals.append(clock.stolen)
        windows += clock.windows
        if tracer is not None:
            rep_overhead += tracer.overhead - ov
        else:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        if time.perf_counter() >= deadline:
            live = _live_mb(spark)
            break

    if tracer is not None:
        tracer.uninstall()
    if not failed:
        try:
            failed += wl.check(errors)
        except Exception:
            traceback.print_exc()
            errors.append("an output check raised")
            failed += 1
    attempted = max(1, wl.ops() + raised)
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)

    rep_jobs = [
        len(spark.sparkContext.statusTracker().getJobIdsForGroup(f"perfbench-rep-{i}"))
        for i in range(len(walls))
    ] if tracer is None else []
    gateway = SparkContext._gateway
    spark.stop()
    if tracer is not None:
        os.makedirs(os.path.join(WORK_ROOT, "spans"), exist_ok=True)
        tracer.dump(os.path.join(WORK_ROOT, "spans", f"{args.workload}-{args.seed}.jsonl"))
        jobs = tr.read_event_log(os.path.join(work, "eventlog"))
        layer = tr.aggregate(tracer.spans, jobs, windows, len(walls), rep_overhead)
        metrics = {n: {"value": v, "unit": _unit(n)} for n, v in layer.items()}
    else:
        gwcc = wl.global_wcc() if not failed else 0.0
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": statistics.median(walls) if walls else 0.0, "unit": "s"},
            "global_wcc": {"value": gwcc, "unit": "wcc"},
            "live_mb": {"value": sum(live), "unit": "MB"},
            "ok_ops_frac": {"value": 1.0 - failed / attempted, "unit": "ratio"},
        }
    _stop_gateway(gateway)
    print(
        f"perfbench: {args.workload} seed={args.seed} reps={len(walls)} "
        f"raw_walls={[round(w, 3) for w in raw_walls]} walls={[round(w, 3) for w in walls]} "
        f"cpus={[round(c, 2) for c in cpus]} steal={[round(x, 2) for x in steals]} "
        f"jobs={rep_jobs} setup_raw={setup_raw:.3f} setup_s={setup_s:.3f} "
        f"session_s={session_s:.3f} heap_mb={live[0]:.1f} rss_mb={live[1]:.1f}",
        file=sys.stderr,
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": min(failed, attempted),
        "metrics": metrics,
    }


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def _stop_gateway(gateway) -> None:
    """Shut the py4j gateway and wait for the JVM to exit: closing its
    stdin makes the JVM exit, as when the Python process ends."""
    if gateway is None:
        return
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    main()
