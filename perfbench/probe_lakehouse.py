"""The lakehouse probe: how reads age as writes pile up, without maintenance.

    python3 perfbench/probe_lakehouse.py [--rounds 8] [--seed 1]

Run from the root of a checkout. Builds the ``lakehouse_rw`` tables,
then makes ``--rounds`` rounds of one upsert and one delete on each
table, with no maintenance. Before the first round and after each one
it prints the median of three key-range and three date-range reads per
table, each checked against its mirror. This is the measurement the op
sizes in ``lakehouse.py`` are held against (see README.md).
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

import numpy as np


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rounds", type=int, default=8)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()

    root = os.getcwd()
    cache = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(cache, f"probe-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = root
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    sys.path[:0] = [root, os.path.dirname(os.path.abspath(__file__))]

    import datagen
    from child import stop_spark
    from dataflowex_spark.session import get_spark
    from lakehouse import Lakehouse

    data_dir, _ = datagen.ensure_base(cache)
    spark = get_spark("perfbench-probe", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        lake = Lakehouse(spark, data_dir, os.path.join(work, "tables"),
                         np.random.default_rng(a.seed))
        lake.setup()

        def seconds(make, reps: int) -> float:
            run, verify = make()
            ts = []
            for _ in range(reps):
                t0 = time.perf_counter()
                out = run()
                ts.append(time.perf_counter() - t0)
                why = verify(out)
                if why is not None:
                    raise RuntimeError(why)
            return statistics.median(ts)

        for r in range(a.rounds + 1):
            reads = " ".join(
                f"{t.fmt}.{k}={seconds(m, 3):.3f}"
                for t in lake.tables
                for k, m in (("read_key", t._read_key), ("read_date", t._read_date))
            )
            print(f"after {r} rounds: {reads}", flush=True)
            if r < a.rounds:
                writes = " ".join(
                    f"{t.fmt}.{k}={seconds(m, 1):.3f}"
                    for t in lake.tables
                    for k, m in (("upsert", t._upsert), ("delete", t._delete))
                )
                print(f"  round {r + 1} writes: {writes}", flush=True)
        lake.close()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
