"""Regenerate ``digests.json``: the row count and order-insensitive
hash of each query-mix result, computed by DuckDB from the query's
``oracle_sql()`` over ``perfbench/data``.

    python3 perfbench/make_digests.py

Each query is also run in Spark and compared with the oracle the way
``tests/oracle_harness.py`` compares them; the script fails, and
writes nothing, unless every query matches and both sides give the
same digest. Needs ``duckdb``; the benchmark itself does not.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))


def main() -> int:
    from digest import digest
    from oracle_harness import compare, duck_con
    from workloads import DATA_DIR, DIGESTS, QUERY_MIX

    from run import DRIVER_MEMORY

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from vizlinc_ingester_spark.session import get_spark
    from vizlinc_ingester_spark.suite import collect_suite

    spark = get_spark(app_name="perfbench-digests",
                      extra_conf={"spark.driver.memory": DRIVER_MEMORY})
    spark.sparkContext.setLogLevel("ERROR")
    queries, oracles = collect_suite()
    work = os.path.join(ROOT, ".perfbench_work", f"digests-{os.getpid()}")
    sf_dir = os.path.join(work, "sf")
    shutil.copytree(DATA_DIR, sf_dir)
    con = duck_con(sf_dir)
    out, bad = {}, []
    try:
        for name in QUERY_MIX:
            sql = oracles[name]
            want = digest(con.execute(sql).fetchdf())
            sdf = queries[name](spark, sf_dir)
            ok, msg = compare(sdf, con, sql)
            got = digest(queries[name](spark, sf_dir).toPandas())
            print(f"{name}: {msg}; digest match: {got == want}", flush=True)
            if not ok or got != want:
                bad.append(name)
            out[name] = want
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print(f"not written: {bad} differ from their oracle", file=sys.stderr)
        return 1
    with open(DIGESTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
