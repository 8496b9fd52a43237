"""Per-thread CPU of the driver JVM during one perfbench operation.

    python3 tools/jvm_threads.py --workload ingest --seed 1

Runs one workload of ``perfbench/`` in this process, untraced, through
that benchmark's own ``start_spark``, ``Ctx`` and ``WORKLOADS``. Around
the first timed operation it samples ``/proc/<jvm>/task/*/stat`` and
sums each thread's CPU by thread class: the thread name with its
trailing digits dropped (``C2 CompilerThre``, ``Thread-``,
``Executor task l``, ``GC Thread#``, ...). Sampling every
``PERIOD_S`` keeps most of the CPU of threads that end during the
operation (HotSpot retires idle compiler threads); what the last
sample missed shows as ``unattributed_s``, the JVM's process total
minus the sum over its threads. Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
sys.path.insert(0, ROOT)

TICK = os.sysconf("SC_CLK_TCK")
#: seconds between samples of the thread table
PERIOD_S = 0.1


def _cpu_of(stat_path: str):
    """(comm, utime + stime in seconds) from a /proc stat file."""
    with open(stat_path) as fh:
        s = fh.read()
    head, _, rest = s.rpartition(")")
    fields = rest.split()
    return head.partition("(")[2], (int(fields[11]) + int(fields[12])) / TICK


def thread_cpu(pid: int) -> dict[int, tuple[str, float]]:
    out = {}
    task = f"/proc/{pid}/task"
    for tid in os.listdir(task):
        try:
            out[int(tid)] = _cpu_of(f"{task}/{tid}/stat")
        except OSError:  # ended between listdir and open
            pass
    return out


class Sampler(threading.Thread):
    """Last seen CPU of every thread of ``pid`` since ``start()``."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.base = thread_cpu(pid)
        self.last = dict(self.base)
        self.jvm0 = _cpu_of(f"/proc/{pid}/stat")[1]
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(PERIOD_S):
            self.last.update(thread_cpu(self.pid))

    def finish(self) -> dict:
        self._done.set()
        self.join()
        self.last.update(thread_cpu(self.pid))
        jvm_s = _cpu_of(f"/proc/{self.pid}/stat")[1] - self.jvm0
        groups: dict[str, float] = {}
        for tid, (name, cpu) in self.last.items():
            # a thread born during the op started from zero
            used = cpu - self.base.get(tid, (name, 0.0))[1]
            key = re.sub(r"\d+$", "", name)
            groups[key] = groups.get(key, 0.0) + used
        groups = {k: round(v, 2) for k, v in
                  sorted(groups.items(), key=lambda kv: -kv[1]) if v > 0}
        return {
            "jvm_cpu_s": round(jvm_s, 2),
            "unattributed_s": round(jvm_s - sum(groups.values()), 2),
            "threads_cpu_s": groups,
        }


def jvm_pid() -> int:
    """The driver JVM: pyspark's gateway process, which spark-submit
    replaced with java."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    if _cpu_of(f"/proc/{pid}/stat")[0] != "java":
        raise RuntimeError(f"gateway process {pid} is not the JVM")
    return pid


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args(argv)

    from run import Ctx, configure_env, reap_children, start_spark, stop_spark
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"jvm-threads-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work, cpus)
    spark = None
    try:
        spark = start_spark(work, cpus)
        spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[args.workload](Ctx(spark, args.seed, work, False, None))
        wl.setup()
        sampler = Sampler(jvm_pid())
        sampler.start()
        t0 = time.perf_counter()
        res = wl.op(0)
        op_s = time.perf_counter() - t0
        out = sampler.finish()
        wl.check(res)
    finally:
        if spark is not None:
            stop_spark(spark)
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "nproc": cpus,
        "op_s": round(op_s, 2), **out, "correct": not wl.failures,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
