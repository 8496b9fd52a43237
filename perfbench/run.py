"""Benchmark runner for the vizlinc_ingester_spark engine.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process runs one workload on
``local[<nproc>]``: it starts a Spark session through
``session.get_spark``, makes its inputs from ``--seed``, times
operations for at least ``--seconds`` (and at least the workload's
``min_ops`` of them), checks their outputs outside the timed region and
prints one record line and, last, one JSON result line. With
``--trace 1`` the metrics are the per-layer ones (see
perfbench/layers.json) and the spans go to a file.

Everything the run writes stays inside the checkout, under
``.perfbench_work/`` (removed at the end) and ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "vizlinc_ingester_spark"
#: driver JVM heap. ``get_spark`` defaults to 16g, the whole memory of
#: a 16 GB box; the benchmark's inputs need far less, so the heap is
#: pinned here (not taken from the environment) and recorded per run.
DRIVER_MEMORY = "2g"


def process_age_s() -> float:
    """Seconds since this process started (interpreter start-up
    included in set-up time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


class PeakRss(threading.Thread):
    """Samples the resident memory of this process and all its
    descendants (the JVM and the Python workers) and keeps the peak."""

    def __init__(self, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop_ev = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def cpu_times(self) -> tuple[float, float]:
        """(user, system) CPU seconds of this process tree so far,
        reaped descendants included."""
        user = system = 0
        for p in self.tree():
            try:
                with open(f"/proc/{p}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
                user += int(f[11]) + int(f[13])
                system += int(f[12]) + int(f[14])
            except (OSError, ValueError, IndexError):
                pass
        tck = os.sysconf("SC_CLK_TCK")
        return user / tck, system / tck

    def sample(self) -> None:
        total = 0
        for p in self.tree():
            try:
                with open(f"/proc/{p}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        self.peak_bytes = max(self.peak_bytes, total)

    def run(self) -> None:
        while not self._stop_ev.wait(self.period_s):
            self.sample()

    def stop(self) -> None:
        self._stop_ev.set()
        self.join(timeout=5)


class Ctx:
    """What a workload gets: the session, the seeded RNG, its work dir,
    the size choice and (traced runs only) the tracer."""

    def __init__(self, spark, seed: int, work: str, smoke: bool, tracer):
        self.spark = spark
        self.rng = random.Random(seed)
        self.work = work
        self.smoke = smoke
        self.tracer = tracer

    def size(self, full: int, smoke: int) -> int:
        return smoke if self.smoke else full


def quartiles(values: list[float]) -> tuple[float, float]:
    """(median, 75th percentile), inclusive method; one value is its
    own percentile."""
    if len(values) == 1:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4, method="inclusive")
    return q[1], q[2]


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests, all CPUs, since
    boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def configure_env(work: str, cpus: int) -> None:
    """Keep every file the run writes inside its work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    import tempfile

    tempfile.tempdir = tmp


def start_spark(work: str, cpus: int):
    from vizlinc_ingester_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads jobs and stages back from the status
        # store; keep all of them (same setting untraced, so both runs
        # share one configuration)
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    return get_spark(app_name="perfbench", shuffle_partitions=cpus,
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and the JVM's children,
    and wait for each to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def reap_children() -> None:
    """Kill and wait for any process this run left behind."""
    me = PeakRss()
    for pid in me.tree()[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                if len(me.tree()) == 1:
                    break
                time.sleep(0.05)
        except ChildProcessError:
            break


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: the smallest inputs (for the smoke test)")
    ap.add_argument("--spans", help="traced runs: where to write the spans")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG}/ package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work, cpus)
    load_before = loadavg()
    rss = PeakRss()
    rss.start()
    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(work, cpus)
        get_spark_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        tracer = None
        if args.trace:
            from tracing import Tracer

            import vizlinc_ingester_spark.plans.ingest  # noqa: F401
            import vizlinc_ingester_spark.suite  # noqa: F401

            vizlinc_ingester_spark.suite.collect_suite()  # import every module
            tracer = Tracer(spark)
            tracer.install()
        ctx = Ctx(spark, args.seed, work, args.size == "smoke", tracer)
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = process_age_s()

        # --- timed region ---------------------------------------------
        if tracer is not None:
            first_job = tracer.job_count()
            tracer.counters.clear()
            tracer.overhead_s = 0.0
            n_spans0 = len(tracer.spans)
        op_s, op_cpu_s, op_sys_s, results, roots = [], [], [], [], []
        attempted = failed = 0
        steal0 = steal_s()
        t_region = time.perf_counter()
        k = 0
        while k < wl.min_ops or time.perf_counter() - t_region < args.seconds:
            t0 = time.perf_counter()
            u0, s0 = rss.cpu_times()
            attempted += 1
            try:
                if tracer is None:
                    res = wl.op(k)
                else:
                    with tracer.span(f"op.{wl.name}", f"op.{wl.name}") as root:
                        res = wl.op(k)
                    roots.append(root.id)
            except Exception as e:  # a failing operation is counted
                failed += 1
                wl.fail(f"op {k}: {type(e).__name__}: {e}"[:300])
                res = None
            op_s.append(time.perf_counter() - t0)
            u1, s1 = rss.cpu_times()
            op_cpu_s.append(u1 - u0 + s1 - s0)
            op_sys_s.append(s1 - s0)
            results.append(res)
            k += 1
        region_s = time.perf_counter() - t_region
        region_steal_s = steal_s() - steal0
        # --- end of timed region --------------------------------------
        if tracer is not None:
            last_job = tracer.job_count()
            region_spans = tracer.spans[n_spans0:]
            tracer.uninstall()

        for res in results:
            if res is None:
                continue
            n_before = len(wl.failures)
            try:
                wl.check(res)
            except Exception as e:
                wl.fail(f"check: {type(e).__name__}: {e}"[:300])
            if len(wl.failures) > n_before:
                failed += 1

        rss.sample()
        p50, p75 = quartiles(wl.steps) if wl.steps else (0.0, 0.0)
        if tracer is None:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_cpu_s": (statistics.median(op_cpu_s), "s"),
                "peak_rss_mb": (rss.peak_bytes / 2**20, "MB"),
            }
        else:
            from layers import layer_metrics

            jobs = [j for j in tracer.job_table(first_job) if j["job"] < last_job]
            metrics = layer_metrics(
                wl, tracer, region_spans, roots, jobs,
                region_s=region_s, cpus=cpus, get_spark_s=get_spark_s,
            )
            out = args.spans or os.path.join(
                ROOT, ".perfbench_out", f"{wl.name}-seed{args.seed}-spans.json")
            os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
            tracer.dump(out, jobs, {
                "workload": wl.name, "seed": args.seed,
                "timed_region": [t_region - tracer.t0, t_region - tracer.t0 + region_s],
                "metrics": {k: v for k, (v, _u) in metrics.items()},
            })
        record = {
            "workload": wl.name, "seed": args.seed, "trace": args.trace,
            "size": args.size, "nproc": cpus, "driver_memory": DRIVER_MEMORY,
            "loadavg_before": load_before, "loadavg_after": loadavg(),
            "samples": {"op_s": len(op_s), "op_cpu_s": len(op_cpu_s),
                        "steps": len(wl.steps), "setup_s": 1},
            "op_s": op_s, "op_cpu_s": op_cpu_s, "op_sys_s": op_sys_s,
            "step_p50_s": p50, "step_p75_s": p75,
            "region_s": region_s, "region_steal_s": region_steal_s, "inputs": wl.record(),
            "stage_timings": wl.timings,
            "failures": wl.failures[:20],
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        rss.stop()
        reap_children()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
