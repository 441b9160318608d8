"""One file-stats model (``sources/file_stats.py``) across MTable, Delta
and Iceberg: the on-disk encodings it writes, the pruning rule every
format's reads share, the time-zone independence of both, and the
exact rule that guards the Z-order fold."""

import datetime as dt
import json
import os
import time

import pytest
from pyspark.sql import functions as F

from dataflowex_spark.sources import delta_reader as dr
from dataflowex_spark.sources import file_stats
from dataflowex_spark.sources import iceberg_reader as ir
from dataflowex_spark.sources.mtable import MTable

SCHEMA = "k long, i int, s string, d date, ts timestamp"
COLS = ("k", "i", "s", "d", "ts")


def _ice_bounds(root: str) -> list:
    meta = ir.load_table_metadata(root)
    out = []
    for lo, hi in ir._live_files(root, meta, None)[3].values():
        out.append(
            [[k, bytes(v).hex()] for k, v in lo.items()]
            + [["hi", k, bytes(v).hex()] for k, v in hi.items()]
        )
    return out


# ---- golden encodings (UTC driver) -----------------------------------

_ICE_GOLDEN = [
    [
        [1, "ecffffffffffffff"], [2, "00000000"], [3, "73303030"],
        [6, "000000000000f0bf"], ["hi", 1, "fd00000000000000"],
        ["hi", 2, "04000000"], ["hi", 3, "73303339"],
        ["hi", 6, "0000000000000f40"],
    ]
]


def test_golden_encodings_unchanged(spark, tmp_path):
    """One fixed frame's stats encode exactly as before the shared
    model existed: MTable ``col_stats``, Delta ``add.stats`` (written
    and exported) and Iceberg bound bytes (written and exported)."""
    rows = [
        (
            i * 7 - 20,
            i % 5,
            f"s{i:03d}",
            dt.date(2024, 1, 1) + dt.timedelta(days=i),
            dt.datetime(2024, 1, 1, 3, 4, 5)
            + dt.timedelta(hours=i, microseconds=i * 13),
            i / 8.0 - 1.0,
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "k long, i int, s string, d date, ts timestamp, f double"
    ).coalesce(1)
    root = str(tmp_path)
    t = MTable.create(
        spark, root + "/m", df, "k", stats_cols=["i", "s", "d", "ts", "f"]
    )
    e = t.manifest()["files"][0]
    assert json.dumps(
        {k: e[k] for k in ("rows", "min_key", "max_key", "col_stats")}
    ) == (
        '{"rows": 40, "min_key": -20, "max_key": 253, "col_stats": '
        '{"i": [0, 4], "s": ["s000", "s039"], "d": ["2024-01-01", '
        '"2024-02-09"], "ts": ["2024-01-01 03:04:05", '
        '"2024-01-02 18:04:05.000507"], "f": [-1.0, 3.875]}}'
    )
    dr.write_delta(
        spark, df, root + "/d", stats_cols=["k", "i", "s", "d", "ts", "f"]
    )
    dr.write_delta(spark, df, root + "/d2")
    dr.export_snapshot_to_delta(t, root + "/xd")
    got = {
        name: [a["stats"] for a in dr._snapshot(spark, root + name, None)[1].values()]
        for name in ("/d", "/d2", "/xd")
    }
    assert got["/d"] == [
        '{"numRecords": 40, "minValues": {"k": -20, "i": 0, "s": "s000", '
        '"d": "2024-01-01", "ts": "2024-01-01T03:04:05", "f": -1.0}, '
        '"maxValues": {"k": 253, "i": 4, "s": "s039", "d": "2024-02-09", '
        '"ts": "2024-01-02T18:04:05.000507", "f": 3.875}}'
    ]
    assert got["/d2"] == [
        '{"numRecords": 40, "minValues": {"k": -20, "i": 0, "s": "s000", '
        '"d": "2024-01-01", "f": -1.0}, "maxValues": {"k": 253, "i": 4, '
        '"s": "s039", "d": "2024-02-09", "f": 3.875}}'
    ]
    assert got["/xd"] == [
        '{"numRecords": 40, "minValues": {"k": -20, "i": 0, "s": "s000", '
        '"d": "2024-01-01", "ts": "2024-01-01 03:04:05", "f": -1.0}, '
        '"maxValues": {"k": 253, "i": 4, "s": "s039", "d": "2024-02-09", '
        '"ts": "2024-01-02 18:04:05.000507", "f": 3.875}}'
    ]
    ir.write_iceberg(spark, df, root + "/i")
    ir.export_snapshot_to_iceberg(t, root + "/xi")
    # the Iceberg codec still writes no date/timestamp bounds
    assert _ice_bounds(root + "/i") == _ICE_GOLDEN
    assert _ice_bounds(root + "/xi") == _ICE_GOLDEN


# ---- pruned read == unpruned read + filter ---------------------------

_BASE = dt.datetime(2024, 1, 1)


def _row(idx: int) -> tuple:
    return (
        idx * 1000,
        idx * 3 - 60,
        f"s{idx:02d}",
        (_BASE + dt.timedelta(days=idx - 20)).date(),
        _BASE + dt.timedelta(hours=idx - 20),
    )


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """The same 40 rows as MTable, Delta and Iceberg tables of four
    files each (rows 0-9, 10-19, 20-29, 30-39), so rows 19 and 20 are
    the max and the min of their files."""
    root = str(tmp_path_factory.mktemp("pruning"))
    rdd = spark.sparkContext.parallelize([_row(i) for i in range(40)], 4)
    df = spark.createDataFrame(rdd, SCHEMA)
    t = MTable.create(
        spark, root + "/m", df, "k", stats_cols=["i", "s", "d", "ts"]
    )
    dr.write_delta(
        spark, df, root + "/d", stats_cols=["k", "i", "s", "d", "ts"]
    )
    ir.write_iceberg(spark, df, root + "/i")
    return {"mtable": t, "delta": root + "/d", "iceberg": root + "/i"}


def _literal_forms(col: str, idx: int) -> dict:
    v = _row(idx)[COLS.index(col)]
    if col in ("d", "ts"):
        moment = v if col == "ts" else dt.datetime(v.year, v.month, v.day)
        return {
            "date": moment.date(),
            "datetime": moment,
            "ymd": str(moment.date()),
            "iso": moment.isoformat(),
        }
    return {"plain": v}


_CASES = [
    (fmt, col, form)
    for fmt in ("mtable", "delta", "iceberg")
    for col in COLS
    for form in (
        ("date", "datetime", "ymd", "iso") if col in ("d", "ts") else ("plain",)
    )
]


def _full(spark, tables, fmt):
    if fmt == "mtable":
        return tables[fmt].read()
    if fmt == "delta":
        return dr.read_delta(spark, tables[fmt])
    return ir.read_iceberg(spark, tables[fmt])


def _kept_files(spark, tables, fmt, spec) -> set:
    col, op, v = spec
    if fmt == "mtable":
        rng = {"=": (v, v), ">=": (v, None), "<=": (None, v)}[op]
        return set(tables[fmt].prune_files(where={col: rng}))
    read = dr.read_delta if fmt == "delta" else ir.read_iceberg
    df = read(spark, tables[fmt], skip_where=[spec])
    return {file_stats.local_path(p) for p in df.inputFiles()}


@pytest.mark.parametrize("fmt,col,form", _CASES)
def test_pruned_read_equals_filtered_read(spark, tables, fmt, col, form):
    """Skipping by file stats never drops a matching row: for every
    literal form Spark accepts, the files a read keeps hold every row
    the filter matches, and the pruned read returns them."""
    ops = ("=", ">=", "<=") if fmt == "mtable" else ("=", "<", "<=", ">", ">=")
    specs = [
        (col, op, _literal_forms(col, idx)[form])
        for idx in (19, 20)
        for op in ops
    ]
    full = _full(spark, tables, fmt)
    per_file = {
        file_stats.local_path(r[0]): r[1:]
        for r in full.groupBy(F.input_file_name())
        .agg(
            *[
                F.sum(file_stats.predicate(spec).cast("int"))
                for spec in specs
            ]
        )
        .collect()
    }
    for j, spec in enumerate(specs):
        kept = _kept_files(spark, tables, fmt, spec)
        want = sum(n[j] or 0 for n in per_file.values())
        got = sum(n[j] or 0 for f, n in per_file.items() if f in kept)
        assert got == want, (spec, kept)
    # end to end, for the boundary row's equality
    spec = specs[ops.index("=") + len(ops)]
    if fmt == "mtable":
        pruned = tables[fmt].read_where(where={col: (spec[2], spec[2])})
    else:
        read = dr.read_delta if fmt == "delta" else ir.read_iceberg
        pruned = read(spark, tables[fmt], skip_where=[spec])
    assert pruned.count() == file_stats.skip_filter(full, [spec]).count()


# ---- time-zone independence ------------------------------------------


@pytest.fixture
def new_york(monkeypatch):
    """The driver's OS time zone set to America/New_York in-process
    (the session time zone stays UTC)."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_mtable_read_where_ignores_driver_timezone(spark, tmp_path, new_york):
    """Footer stats are UTC instants and a naive datetime literal is
    read in the OS zone, as Spark's own filter reads it: the pruned
    read must equal the filtered read."""
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0, 0)), (2, dt.datetime(2024, 1, 3))],
        "k long, ts timestamp",
    ).repartition(2, "k")
    t = MTable.create(spark, str(tmp_path / "t"), df, "k", stats_cols=["ts"])
    lo, hi = dt.datetime(2024, 1, 1, 0, 0), dt.datetime(2024, 1, 1, 1, 0)
    want = t.read().filter((F.col("ts") >= lo) & (F.col("ts") <= hi)).count()
    assert want == 1
    assert t.read_where(where={"ts": (lo, hi)}).count() == want


def test_zorder_fold_reads_offset_aware_stat_strings(spark, tmp_path):
    """A manifest timestamp stat carrying a UTC offset folds as the
    instant it names instead of raising TypeError."""
    df = spark.createDataFrame(
        [(i, _BASE + dt.timedelta(hours=i)) for i in range(50)],
        "k long, ts timestamp",
    ).repartition(2)
    t = MTable.create(spark, str(tmp_path / "t"), df, "k", stats_cols=["ts"])
    path = os.path.join(t.root, "_v", f"{t.current_version()}.manifest.json")
    with open(path) as f:
        m = json.load(f)
    for e in m["files"]:
        e["col_stats"]["ts"] = [
            dt.datetime.fromisoformat(v)
            .replace(tzinfo=dt.timezone.utc)
            .astimezone(dt.timezone(dt.timedelta(hours=5)))
            .isoformat()
            for v in e["col_stats"]["ts"]
        ]
    with open(path, "w") as f:
        json.dump(m, f)
    scan = t.read().agg(
        F.min(F.unix_micros("ts")).cast("double"),
        F.max(F.unix_micros("ts")).cast("double"),
    ).first()
    v = t.current_version()
    t.optimize_zorder(["ts"], n_files=2)
    assert t.read().count() == 50
    recs = t._stats(t.manifest(v), v)
    assert file_stats.fold(recs, ["ts"]) == {"ts": (scan[0], scan[1])}


# ---- fold == scan ------------------------------------------------------

_FOLD_COLS = ("k", "d", "ts", "f", "s")


def _fold_frame(spark):
    return spark.createDataFrame(
        [
            (
                i,
                (_BASE + dt.timedelta(days=i % 97)).date(),
                _BASE + dt.timedelta(hours=i, microseconds=i),
                i / 7.0,
                f"s{i:04d}",
            )
            for i in range(1000)
        ],
        "k long, d date, ts timestamp, f double, s string",
    ).repartition(4)


def _assert_fold_is_scan_or_none(records, live, exact_kinds: bool):
    dtypes = dict(live.dtypes)
    for c in _FOLD_COLS:
        got = file_stats.fold(records, [c])
        if exact_kinds and c in ("k", "d", "ts"):
            assert got is not None, c
        if got is None:
            continue
        scan = live.agg(
            F.min(file_stats.rank(c, dtypes[c])),
            F.max(file_stats.rank(c, dtypes[c])),
        ).first()
        assert got == {c: (scan[0], scan[1])}, c


def test_fold_equals_scan_or_refuses_mtable(spark, tmp_path):
    t = MTable.create(
        spark,
        str(tmp_path / "t"),
        _fold_frame(spark),
        "k",
        stats_cols=["d", "ts", "f", "s"],
    )
    _assert_fold_is_scan_or_none(t._stats(t.manifest()), t.read(), True)
    # deleting the smallest keys leaves the stats counting dead rows:
    # the fold must not claim mn_k = 0 when the scan gives 10
    t.delete_where("k < 10")
    recs = t._stats(t.manifest())
    assert any(r.deletes for r in recs)
    _assert_fold_is_scan_or_none(recs, t.read(), False)
    assert t.read().agg(F.min("k")).first()[0] == 10


def test_fold_equals_scan_or_refuses_delta(spark, tmp_path):
    dest = str(tmp_path / "t")
    dr.write_delta(spark, _fold_frame(spark), dest, stats_cols=list(_FOLD_COLS))
    dtypes = dict(dr.read_delta(spark, dest).dtypes)
    spec = {c: (c, file_stats.kind_of(dtypes[c])) for c in _FOLD_COLS}

    def records():
        return [
            file_stats.from_delta(a, spec)
            for a in dr._snapshot(spark, dest, None)[1].values()
        ]

    _assert_fold_is_scan_or_none(records(), dr.read_delta(spark, dest), True)
    dr.delete_from_delta(spark, dest, "k < 10")
    recs = records()
    assert any(r.deletes for r in recs)
    _assert_fold_is_scan_or_none(recs, dr.read_delta(spark, dest), False)
