"""Footer-derived file stats (``file_stats.footer_stats``) must be
indistinguishable from the Spark re-scan they replace
(``file_stats.scan_stats``, itself checked against a plain Spark
aggregate): same per-file rows / min / max for every supported type,
and an honest ``None`` (the collector falls back to the scan) for
anything footers can't reproduce."""

import datetime as dt
import math
import os

from pyspark.sql import functions as F, types as T

from dataflowex_spark.sources import file_stats


def _kinds(spark, job, cols):
    schema = spark.read.parquet(job).schema
    return {c: file_stats.kind_of(schema[c].dataType) for c in cols}


def _footer(spark, job, cols, **kw):
    return file_stats.footer_stats(job, cols, _kinds(spark, job, cols), **kw)


def _scan_stats(spark, job, cols):
    """path → record from the distributed scan, after checking that
    scan against Spark's own min/max (canonical: dates as epoch days,
    timestamps as UTC micros)."""
    kinds = _kinds(spark, job, cols)
    recs = file_stats.scan_stats(spark.read.parquet(job), cols, kinds)
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"__mn_{c}"))
        aggs.append(F.max(c).alias(f"__mx_{c}"))
    plain = {
        file_stats.local_path(r["__path"]): r
        for r in spark.read.parquet(job)
        .groupBy(F.input_file_name().alias("__path"))
        .agg(*aggs)
        .collect()
    }
    for rec in recs:
        r = plain[rec.path]
        assert rec.rows == r["__rows"]
        for c in cols:
            want = (r[f"__mn_{c}"], r[f"__mx_{c}"])
            if kinds[c] == "date":
                want = tuple(
                    None if v is None else (v - dt.date(1970, 1, 1)).days
                    for v in want
                )
            if kinds[c] == "timestamp":
                want = tuple(
                    None if v is None else T.TimestampType().toInternal(v)
                    for v in want
                )
            assert rec.bounds[c] == want, (c, rec, r)
    return {rec.path: rec for rec in recs}


def test_footer_stats_match_scan_across_types(spark, tmp_path):
    job = str(tmp_path / "job")
    df = spark.createDataFrame(
        [
            (1, "alpha", 1.5, dt.date(2024, 1, 2), dt.datetime(2024, 1, 2, 3, 4, 5), True),
            (2, "omega", -2.25, dt.date(2023, 12, 31), dt.datetime(2023, 12, 31, 23, 59, 59), False),
            (3, None, None, None, None, None),
        ],
        "k long, s string, d double, dy date, ts timestamp, b boolean",
    )
    df.repartition(2).write.parquet(job)
    cols = ["k", "s", "d", "dy", "ts", "b"]
    got = _footer(spark, job, cols)
    assert got is not None
    want = _scan_stats(spark, job, cols)
    assert len(got) == len(want)
    for e in got:
        w = want[e.path]
        assert e.rows == w.rows
        for c in cols:
            assert e.bounds[c] == w.bounds[c], (c, e, w)


def test_footer_stats_recursive_hive_layout(spark, tmp_path):
    job = str(tmp_path / "hive")
    df = spark.createDataFrame(
        [(i, f"s{i}", i % 3) for i in range(30)], "k long, s string, p int"
    )
    df.write.partitionBy("p").parquet(job)
    got = file_stats.footer_stats(
        job, ["k", "s"], {"k": "int", "s": "string"}, recursive=True
    )
    assert got is not None
    assert all(os.sep + "p=" in e.path for e in got)
    # totals line up with the data
    assert sum(e.rows for e in got) == 30
    assert min(e.bounds["k"][0] for e in got) == 0
    assert max(e.bounds["k"][1] for e in got) == 29


def test_footer_stats_refuses_decimal(spark, tmp_path):
    job = str(tmp_path / "dec")
    spark.createDataFrame(
        [(1,)], "k long"
    ).select(F.col("k"), F.lit("1.50").cast("decimal(10,2)").alias("m")).write.parquet(job)
    assert _footer(spark, job, ["m"]) is None
    # but the supported sibling column is still fine
    assert _footer(spark, job, ["k"]) is not None


def test_footer_stats_refuses_nan_floats(spark, tmp_path):
    job = str(tmp_path / "nan")
    spark.createDataFrame(
        [(1, 1.0), (2, float("nan"))], "k long, d double"
    ).coalesce(1).write.parquet(job)
    # Spark orders NaN above every double; footers can't promise that
    got = _footer(spark, job, ["d"])
    if got is not None:
        # only acceptable if the footer itself reproduced Spark: max must be NaN
        assert all(math.isnan(e.bounds["d"][1]) for e in got)
    else:
        assert got is None


def test_footer_stats_all_null_column(spark, tmp_path):
    job = str(tmp_path / "nulls")
    spark.createDataFrame(
        [(1, None), (2, None)], "k long, s string"
    ).coalesce(1).write.parquet(job)
    got = _footer(spark, job, ["s"])
    want = _scan_stats(spark, job, ["s"])
    if got is not None:
        for e in got:
            w = want[e.path]
            assert e.bounds["s"] == w.bounds["s"] == (None, None)


def test_footer_stats_explicit_paths(spark, tmp_path):
    job = str(tmp_path / "explicit")
    spark.createDataFrame([(i,) for i in range(10)], "k long").coalesce(
        2
    ).write.parquet(job)
    files = sorted(
        str(tmp_path / "explicit" / f)
        for f in os.listdir(job)
        if f.endswith(".parquet")
    )
    got = file_stats.footer_stats(job, ["k"], {"k": "int"}, paths=files[:1])
    assert got is not None and len(got) == 1
    assert got[0].path == files[0]
