"""The workloads, and the op kinds of the registry workload.

Each registry op builds its query's DataFrame (``queries`` layer; eager
jobs run here) and then collects its result (Spark planning and
execution of the query's own plan). The untimed first execution checks
the full result against the DuckDB oracle; every timed execution must
return the row count that was checked.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from dataflowex_spark import queries as Q

from oracle import Oracle
from runner import Op
from tracing import Tracer

#: registry mix, by query number: pipeline dispatch, shuffle join,
#: range join, window, CDC merge, MV rewrite, result cache. Each run
#: boots a Spark session (~10 s to the first job on 4 cores) and makes an
#: untimed first pass over every kind before its timed passes, and the
#: 48 runs of a full benchmark round have to fit in under an hour.
MIXES: dict[str, list[str]] = {
    "etl_star": "q06 q20 q24 q40 q123 q383 q399".split(),
}

#: timed passes a run makes at least, per workload: enough samples for
#: the tail percentile (at least ten beyond it) to sit above the median,
#: and the same sample count in every run whatever the box's speed
MIN_PASSES = {"etl_star": 4, "lakehouse_rw": 2}
WORKLOADS = tuple(MIN_PASSES)
#: untimed warm-up passes before timing, the first one checked against
#: the oracle. Registry queries kept getting faster over four timed
#: passes after one warm-up pass (the last pass ~25% below the first);
#: lakehouse passes after one warm-up pass ran level, and each further
#: pass would add a round of table state.
WARM_PASSES = {"etl_star": 4, "lakehouse_rw": 1}


def registry_name(number: str) -> str:
    for name in Q.REGISTRY:
        if name.split("_", 1)[0] == number:
            return name
    raise KeyError(f"no registry query {number}")


def registry_op(spark: SparkSession, data_dir: str, name: str,
                oracle: Oracle, tracer: Tracer) -> Op:
    fn = Q.REGISTRY[name][0]
    checked: dict[str, int] = {}

    def run() -> int:
        with tracer.span("queries", name):
            df = fn(spark, data_dir)
        if tracer.enabled:
            with tracer.span("spark.plan", name):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.exec", name):
            return len(df.toPandas())

    def verify(rows: int) -> str | None:
        if "rows" not in checked:
            return "no checked result to compare with"
        if rows != checked["rows"]:
            return f"rows {rows} != checked {checked['rows']}"
        return None

    def first() -> str | None:
        pdf = fn(spark, data_dir).toPandas()
        checked["rows"] = len(pdf)
        return oracle.check(name, pdf)

    # registry queries share no state, so each is its own lane
    return Op(name, "read", run, verify, first, lane=name)


def registry_ops(workload: str, spark: SparkSession, data_dir: str,
                 oracle_cache: str, tracer: Tracer) -> tuple[list[Op], Oracle]:
    oracle = Oracle(data_dir, Q.oracle_sql(), oracle_cache)
    ops = [
        registry_op(spark, data_dir, registry_name(n), oracle, tracer)
        for n in MIXES[workload]
    ]
    return ops, oracle
