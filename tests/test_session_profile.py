"""get_spark's JVM profile reaches the driver JVM.

The shared test session's JVM is already running, so the check starts
its own session in a subprocess: one JVM start, whose input arguments
must hold both the compiler-thread profile and a caller's own
``spark.driver.extraJavaOptions``."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from vizlinc_ingester_spark.session import get_spark

spark = get_spark(
    "profile-probe",
    extra_conf={"spark.driver.extraJavaOptions": "-Dvizlinc.probe=1"},
)
mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
args = mx.getRuntimeMXBean().getInputArguments()
print(json.dumps([str(a) for a in args]))
spark.stop()
"""


def test_profile_and_extra_options_reach_driver_jvm():
    env = dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEM="512m")
    out = subprocess.run(
        [sys.executable, "-c", PROBE, ROOT],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    args = json.loads(out.stdout.strip().splitlines()[-1])
    assert "-XX:CICompilerCount=2" in args, args
    assert "-Dvizlinc.probe=1" in args, args
