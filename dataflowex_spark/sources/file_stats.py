"""Per-file statistics: the one model MTable, Delta and Iceberg share.

Every table format here records, per data file, a row count and a
[lo, hi] per stats column, and uses them three ways: to skip files a
predicate cannot match, to fold global bounds for a Z-order rewrite
without a scan, and to bucket a MERGE rewrite by known key ranges.
This module is the only code that knows what such a stat means.

**Collector.** :func:`collect` reads the parquet footers the write
tasks already produced and falls back to one distributed
``input_file_name``-grouped scan whenever footers cannot reproduce
that scan exactly: a column type outside ints, bool, string, date,
timestamp and float/double (decimals render differently); a row
group with values but no min/max (parquet drops stats for very long
binaries); NaN in float stats (parquet-mr propagates NaN, Spark
orders it above every double). Zero-row files yield no record.

**Canonical values.** A :class:`FileStats` record holds ``rows`` and
per column ``(lo, hi)`` in one canonical form per *kind*:

- ``int``, ``float``, ``string``, ``bool``: the Python value;
- ``date``: days since 1970-01-01 (Spark's ``unix_date``);
- ``timestamp``: UTC microseconds (Spark's ``unix_micros``), whatever
  the driver's OS time zone or the session time zone;
- ``timestamp_ntz``: the wall clock's microseconds, read as UTC;
- ``other`` (decimal, binary, ...): the raw value, never compared.

**Exact rule.** ``FileStats.exact(col)`` holds when the stored bounds
equal the live rows' min/max in the column's numeric surrogate:

- ``int``, ``date``, ``timestamp`` and ``timestamp_ntz`` are exact;
- ``float`` and ``string`` are not (no order-preserving surrogate
  that provably round-trips), nor is anything else;
- any deletion vector or equality delete on the file makes every
  column inexact: the stats still count the deleted rows.

Only the Z-order fold needs exactness. Pruning only needs *sound*
bounds, which every record has. MERGE bucketing only needs bounds a
Spark literal can express (ints, floats and strings); a bucket
boundary need not be tight to keep the rewritten files disjoint.

**Codecs.** The on-disk encodings stay as they always were: MTable
manifest JSON (dates as ``str(date)``, timestamps as ``str`` of the
naive UTC datetime), Delta ``add.stats`` JSON (ISO ``isoformat()``
strings) and Iceberg single-value bound bytes. The Iceberg codec
still writes no date or timestamp bounds.

**Evaluator.** :func:`may_match` converts a predicate literal the way
Spark's own filter will (``TimestampType().toInternal`` for
datetimes, so naive ones read in the OS zone; strings parsed in the
session time zone; a date column against a datetime compares as
timestamps) and keeps a file whenever its stats are missing or
cannot be compared. :func:`skip_filter` then applies the same
predicate in-plan, so results never depend on the stats.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
from dataclasses import dataclass
from decimal import Decimal

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

_EPOCH = dt.datetime(1970, 1, 1)
_EPOCH_DAY = dt.date(1970, 1, 1)
_DAY_US = 86_400_000_000

_KINDS = {
    "bigint": "int", "int": "int", "smallint": "int", "tinyint": "int",
    "double": "float", "float": "float", "string": "string",
    "boolean": "bool", "date": "date", "timestamp": "timestamp",
    "timestamp_ntz": "timestamp_ntz",
}
_ICEBERG_KINDS = {
    "int": "int", "long": "int", "float": "float", "double": "float",
    "string": "string", "boolean": "bool", "date": "date",
    "timestamp": "timestamp_ntz", "timestamptz": "timestamp",
}
#: types a Delta writer records stats for when not told otherwise
_DEFAULT_TYPES = (
    T.LongType, T.IntegerType, T.ShortType, T.ByteType,
    T.DoubleType, T.FloatType, T.StringType, T.DateType,
)
EXACT = frozenset({"int", "date", "timestamp", "timestamp_ntz"})
_LITERAL_SAFE = frozenset({"int", "float", "string"})
SKIP_OPS = ("=", "<", "<=", ">", ">=")


def kind_of(dtype) -> str:
    """A Spark ``DataType`` (or its ``simpleString``) → stats kind."""
    s = dtype if isinstance(dtype, str) else dtype.simpleString()
    return _KINDS.get(s, "other")


def default_cols(schema, exclude=()) -> list[str]:
    """Top-level int, float, string and date columns of ``schema``
    outside ``exclude``: the default stats columns."""
    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, _DEFAULT_TYPES) and f.name not in exclude
    ]


def _iceberg_kind(ice_type) -> str:
    return _ICEBERG_KINDS.get(ice_type, "other") if isinstance(
        ice_type, str
    ) else "other"


@dataclass
class FileStats:
    """One data file's stats in canonical form (see module doc)."""

    rows: int | None
    bounds: dict[str, tuple]
    kinds: dict[str, str]
    deletes: bool = False
    path: str | None = None

    def exact(self, col: str) -> bool:
        lo, hi = self.bounds.get(col, (None, None))
        return (
            not self.deletes
            and self.kinds.get(col) in EXACT
            and lo is not None
            and hi is not None
        )


# ---- canonical values ------------------------------------------------


def _micros(t: dt.datetime) -> int:
    """UTC micros of an aware datetime; a naive one reads as UTC."""
    if t.tzinfo is not None:
        t = t.astimezone(dt.timezone.utc).replace(tzinfo=None)
    d = t - _EPOCH
    return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds


def _datetime(us: int) -> dt.datetime:
    return _EPOCH + dt.timedelta(microseconds=us)


def _date(days: int) -> dt.date:
    return _EPOCH_DAY + dt.timedelta(days=days)


def _canon(kind: str, v):
    """A footer / collected-Row value → canonical."""
    if v is None:
        return None
    if kind == "date" and isinstance(v, dt.date):
        return (v - _EPOCH_DAY).days
    if kind in ("timestamp", "timestamp_ntz") and isinstance(
        v, dt.datetime
    ):
        return _micros(v)
    return v


def _value_kind(v) -> str:
    """Kind of a stored value when the column's type is unknown."""
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    return "string" if isinstance(v, str) else "other"


def _decode_text(kind: str, v):
    """A manifest / ``add.stats`` JSON value → canonical, or None
    when it does not parse as ``kind``."""
    if v is None or kind == "other":
        return v
    if kind in ("date", "timestamp", "timestamp_ntz"):
        if not isinstance(v, str):
            return None
        try:
            if kind == "date":
                return (dt.date.fromisoformat(v) - _EPOCH_DAY).days
            return _micros(dt.datetime.fromisoformat(v))
        except ValueError:
            return None
    return v if _value_kind(v) == kind or (
        kind == "float" and _value_kind(v) == "int"
    ) else None


def mtable_text(kind: str, v):
    """Canonical → MTable manifest value (the JSON it always had)."""
    if v is None:
        return None
    if kind == "date":
        return str(_date(v))
    if kind in ("timestamp", "timestamp_ntz"):
        return str(_datetime(v))
    if isinstance(v, (int, float, str, bool)):
        return v
    return str(v)


def delta_text(kind: str, v):
    """Canonical → Delta ``add.stats`` value (ISO strings)."""
    if kind == "date" and v is not None:
        return _date(v).isoformat()
    if kind in ("timestamp", "timestamp_ntz") and v is not None:
        return _datetime(v).isoformat()
    return mtable_text(kind, v)


# ---- collector -------------------------------------------------------


def local_path(uri: str) -> str:
    """``input_file_name()`` URI → canonical local path (strip the
    ``file:`` scheme, collapse leading slashes, unquote)."""
    from urllib.parse import unquote

    p = unquote(uri)
    if p.startswith("file:"):
        p = p[len("file:") :]
    while p.startswith("//"):
        p = p[1:]
    return os.path.normpath(p)


def collect(
    df: DataFrame,
    job: str,
    cols: list[str],
    recursive: bool = False,
    paths: list[str] | None = None,
    fmt: str = "parquet",
    scan: DataFrame | None = None,
) -> list[FileStats]:
    """Stats of every non-empty data file ``df`` was written to under
    ``job`` (``recursive`` descends into hive partition dirs;
    ``paths`` replaces the walk with an explicit file list). Footers
    first; otherwise one scan of ``scan`` (default: ``job`` read back
    as ``fmt``) grouped by file."""
    kinds = {c: kind_of(df.schema[c].dataType) for c in cols}
    out = None
    if fmt == "parquet":
        out = footer_stats(job, cols, kinds, recursive, paths)
    if out is None:
        if scan is None:
            scan = df.sparkSession.read.format(fmt).load(job)
        out = scan_stats(scan, cols, kinds)
    return out


def footer_stats(
    job: str,
    cols: list[str],
    kinds: dict[str, str],
    recursive: bool = False,
    paths: list[str] | None = None,
) -> list[FileStats] | None:
    """Records from the parquet footers alone, or None when they
    cannot reproduce :func:`scan_stats` exactly (see module doc)."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except Exception:
        return None

    def ok_type(t) -> bool:
        return (
            pa.types.is_integer(t)
            or pa.types.is_boolean(t)
            or pa.types.is_string(t)
            or pa.types.is_large_string(t)
            or pa.types.is_date(t)
            or pa.types.is_timestamp(t)
            or pa.types.is_floating(t)
        )

    def is_part(name: str) -> bool:
        return name.endswith(".parquet") and not name.startswith((".", "_"))

    try:
        if paths is not None:
            parts = sorted(paths)
        elif recursive:
            parts = sorted(
                os.path.join(d, f)
                for d, _dirs, files in os.walk(job)
                for f in files
                if is_part(f)
            )
        else:
            parts = sorted(
                os.path.join(job, f) for f in os.listdir(job) if is_part(f)
            )
        out: list[FileStats] = []
        for path in parts:
            pf = pq.ParquetFile(path)
            md = pf.metadata
            if md.num_rows == 0:
                continue
            schema = pf.schema_arrow
            bounds = {}
            for c in cols:
                if c not in schema.names or not ok_type(schema.field(c).type):
                    return None
                los, his = [], []
                for rg in range(md.num_row_groups):
                    rgm = md.row_group(rg)
                    col = next(
                        (
                            rgm.column(i)
                            for i in range(rgm.num_columns)
                            if rgm.column(i).path_in_schema == c
                        ),
                        None,
                    )
                    if col is None:
                        return None  # nested field shadowing the name
                    st = col.statistics
                    if st is None:
                        return None
                    if st.num_values == 0:
                        continue  # an all-null group adds nothing
                    if not st.has_min_max:
                        return None
                    lo = _canon(kinds[c], st.min)
                    hi = _canon(kinds[c], st.max)
                    if isinstance(lo, float) and (
                        math.isnan(lo) or math.isnan(hi)
                    ):
                        return None
                    los.append(lo)
                    his.append(hi)
                bounds[c] = (
                    min(los) if los else None,
                    max(his) if his else None,
                )
            out.append(FileStats(md.num_rows, bounds, dict(kinds), path=path))
        return out
    except Exception:
        return None


def scan_stats(
    scan: DataFrame, cols: list[str], kinds: dict[str, str]
) -> list[FileStats]:
    """Records from one aggregate over ``scan`` grouped by file."""

    def agg(fn, c):
        v = fn(c)
        if kinds[c] == "date":
            return F.unix_date(v)
        if kinds[c] == "timestamp":
            return F.unix_micros(v)
        return v

    aggs = [F.count(F.lit(1))]
    for c in cols:
        aggs += [agg(F.min, c), agg(F.max, c)]
    out = []
    for r in scan.groupBy(F.input_file_name()).agg(*aggs).collect():
        bounds = {
            c: (_canon(kinds[c], r[2 + 2 * i]), _canon(kinds[c], r[3 + 2 * i]))
            for i, c in enumerate(cols)
        }
        out.append(FileStats(r[1], bounds, dict(kinds), path=local_path(r[0])))
    return out


# ---- per-format codecs -----------------------------------------------


def from_mtable(entry: dict, key_col: str, kinds: dict[str, str]) -> FileStats:
    """An MTable manifest entry → record. ``kinds`` comes from the
    table schema; a column missing from it is kinded by its value."""
    raw = {key_col: (entry.get("min_key"), entry.get("max_key"))}
    for c, mm in (entry.get("col_stats") or {}).items():
        raw[c] = (mm[0], mm[1])
    ks = {
        c: kinds.get(c) or _value_kind(lo if lo is not None else hi)
        for c, (lo, hi) in raw.items()
    }
    return FileStats(
        entry.get("rows"),
        {
            c: (_decode_text(ks[c], lo), _decode_text(ks[c], hi))
            for c, (lo, hi) in raw.items()
        },
        ks,
        deletes=bool(entry.get("dv") or entry.get("eq")),
        path=entry.get("path"),
    )


def to_mtable(fs: FileStats, key_col: str, stats_cols: list[str]) -> dict:
    """Record → the stats fields of an MTable manifest entry."""

    def text(c, i):
        return mtable_text(fs.kinds[c], fs.bounds[c][i])

    e = {
        "path": fs.path,
        "rows": fs.rows,
        "min_key": text(key_col, 0),
        "max_key": text(key_col, 1),
    }
    if stats_cols:
        e["col_stats"] = {c: [text(c, 0), text(c, 1)] for c in stats_cols}
    return e


def from_delta(add: dict, cols: dict[str, tuple[str, str]]) -> FileStats:
    """A Delta add → record over ``cols`` (logical name → (physical
    name, kind)). Missing or unparseable stats give empty bounds."""
    raw = add.get("stats")
    st: dict = {}
    if raw:
        try:
            st = json.loads(raw) if isinstance(raw, str) else dict(raw)
        except (TypeError, ValueError):
            st = {}
    lows = st.get("minValues") or {}
    highs = st.get("maxValues") or {}
    # columns in the stats' own order, so re-encoding keeps it
    by_phys = {phys: c for c, (phys, _kind) in cols.items()}
    names = [by_phys[p] for p in lows if p in by_phys]
    names += [c for c in cols if c not in names]
    bounds = {
        c: (
            _decode_text(cols[c][1], lows.get(cols[c][0])),
            _decode_text(cols[c][1], highs.get(cols[c][0])),
        )
        for c in names
    }
    return FileStats(
        st.get("numRecords"),
        bounds,
        {c: kind for c, (_phys, kind) in cols.items()},
        deletes=bool(add.get("deletionVector")),
        path=add.get("path"),
    )


def delta_stats(
    fs: FileStats,
    cols: list[str],
    text=delta_text,
    drop_nulls: bool = False,
) -> str:
    """Record → ``add.stats`` JSON. ``drop_nulls`` leaves unknown
    bounds out instead of writing ``null``; ``text`` renders values
    (an MTable export keeps the manifest's own strings)."""
    sides = []
    for i in (0, 1):
        vals = {c: text(fs.kinds.get(c, "other"), fs.bounds[c][i]) for c in cols}
        if drop_nulls:
            vals = {c: v for c, v in vals.items() if v is not None}
        sides.append(vals)
    return json.dumps(
        {"numRecords": fs.rows, "minValues": sides[0], "maxValues": sides[1]}
    )


def from_iceberg(
    file_bounds: tuple[dict, dict] | None,
    fields: dict[str, dict],
    cols,
) -> FileStats | None:
    """Iceberg ``(lower_bounds, upper_bounds)`` (field id → bytes) →
    record over ``cols``; undecodable bounds stay unknown."""
    if file_bounds is None:
        return None
    from dataflowex_spark.sources.iceberg_reader import bound_decode

    lower, upper = file_bounds
    bounds, kinds = {}, {}
    for c in cols:
        f = fields[c]
        fid, t = f.get("id"), f.get("type")
        kinds[c] = _iceberg_kind(t)
        lo_raw, hi_raw = lower.get(fid), upper.get(fid)
        try:
            bounds[c] = (
                None if lo_raw is None else bound_decode(bytes(lo_raw), t),
                None if hi_raw is None else bound_decode(bytes(hi_raw), t),
            )
        except Exception:
            bounds[c] = (None, None)
    return FileStats(None, bounds, kinds)


def iceberg_bounds(
    fs: FileStats, fields: dict[str, dict], cols=None
) -> tuple[list | None, list | None]:
    """Record → ``lower_bounds``/``upper_bounds`` kv lists for the
    ``cols`` (default: all) that are top-level fields with a bound
    serialization; ``(None, None)`` when nothing serializes."""
    from dataflowex_spark.sources.iceberg_reader import (
        IcebergProtocolError,
        bound_encode,
    )

    lo, hi = [], []
    for c in fs.bounds if cols is None else cols:
        f = fields.get(c)
        mn, mx = fs.bounds.get(c, (None, None))
        if f is None or not isinstance(f.get("type"), str):
            continue
        if mn is None or mx is None:
            continue
        try:
            pair = (bound_encode(mn, f["type"]), bound_encode(mx, f["type"]))
        except IcebergProtocolError:
            continue
        lo.append({"key": f["id"], "value": pair[0]})
        hi.append({"key": f["id"], "value": pair[1]})
    return (lo or None, hi or None)


# ---- pruning ---------------------------------------------------------


def session_tz(spark) -> str:
    return spark.conf.get("spark.sql.session.timeZone", "UTC")


def _zone_micros(t: dt.datetime, tz: str) -> int:
    """UTC micros of a naive wall clock read in zone ``tz``."""
    from zoneinfo import ZoneInfo

    return _micros(t.replace(tzinfo=ZoneInfo(tz)))


def _literal_domain(kind: str, lo, hi, v, tz: str):
    """``(lo, hi, literal)`` mapped into the one ordered domain Spark
    compares them in, or None when that is not known here."""
    if isinstance(v, bool) or kind == "bool":
        return (lo, hi, v) if isinstance(v, bool) and kind == "bool" else None
    if kind in ("int", "float"):
        if isinstance(v, (int, float, Decimal)):
            return lo, hi, v
        return None
    if kind == "string":
        return (lo, hi, v) if isinstance(v, str) else None
    if kind not in ("date", "timestamp", "timestamp_ntz"):
        return None
    if isinstance(v, str):
        # Spark casts the string to the column's type
        p = dt.datetime.fromisoformat(v.strip())
        if kind == "date":
            return lo, hi, (p.date() - _EPOCH_DAY).days
        if kind == "timestamp":
            return lo, hi, _micros(p) if p.tzinfo else _zone_micros(p, tz)
        return (lo, hi, _micros(p)) if p.tzinfo is None else None
    if isinstance(v, dt.datetime):
        # a datetime literal is a TIMESTAMP; date and ntz columns are
        # cast to it in the session zone
        us = T.TimestampType().toInternal(v)
        if kind == "timestamp":
            return lo, hi, us
        scale = _DAY_US if kind == "date" else 1
        return (
            _zone_micros(_datetime(lo * scale), tz),
            _zone_micros(_datetime(hi * scale), tz),
            us,
        )
    if isinstance(v, dt.date):
        days = (v - _EPOCH_DAY).days
        if kind == "date":
            return lo, hi, days
        if kind == "timestamp":
            return lo, hi, _zone_micros(_datetime(days * _DAY_US), tz)
        return lo, hi, days * _DAY_US
    return None


def _nan(x) -> bool:
    return isinstance(x, float) and math.isnan(x)


def may_match(
    stats: FileStats | None, col: str, op: str, literal, tz: str = "UTC"
) -> bool:
    """Can any row of the file satisfy ``col OP literal``? True unless
    the stats prove otherwise (see module doc)."""
    if stats is None:
        return True
    lo, hi = stats.bounds.get(col, (None, None))
    if lo is None or hi is None or literal is None:
        return True
    try:
        got = _literal_domain(stats.kinds.get(col), lo, hi, literal, tz)
        if got is None or any(_nan(x) for x in got):
            return True
        lo, hi, v = got
        return {
            "=": lo <= v <= hi,
            "<": lo < v,
            "<=": lo <= v,
            ">": hi > v,
            ">=": hi >= v,
        }[op]
    except (TypeError, ValueError, OverflowError, LookupError):
        return True  # incomparable: never prune on a guess


def validate_skip_where(specs: list[tuple], columns) -> None:
    for col, op, _v in specs:
        if op not in SKIP_OPS:
            raise ValueError(
                f"skip_where op {op!r} unsupported (use one of {SKIP_OPS})"
            )
        if col not in columns:
            raise ValueError(f"skip_where column {col!r} not in schema")


def predicate(spec: tuple) -> Column:
    """One ``(col, op, literal)`` triple as a Spark condition."""
    col, op, v = spec
    c = F.col(col)
    return {
        "=": c == v,
        "<": c < v,
        "<=": c <= v,
        ">": c > v,
        ">=": c >= v,
    }[op]


def skip_filter(df: DataFrame, specs: list[tuple]) -> DataFrame:
    """The ``(col, op, literal)`` conjunction applied in-plan: pruning
    only saves I/O; this keeps results exact for kept files."""
    for spec in specs:
        df = df.filter(predicate(spec))
    return df


# ---- folds -----------------------------------------------------------


def span(records: list[FileStats], col: str) -> tuple:
    """``(min lo, max hi)`` of ``col`` over the records' known
    bounds, rendered as MTable manifest values."""
    los = [r.bounds[col][0] for r in records if r.bounds[col][0] is not None]
    his = [r.bounds[col][1] for r in records if r.bounds[col][1] is not None]
    kind = records[0].kinds[col] if records else "other"
    return (
        mtable_text(kind, min(los)) if los else None,
        mtable_text(kind, max(his)) if his else None,
    )


def range_bounds(records: list[FileStats], col: str) -> list | None:
    """Sorted upper bounds of ``col`` over ``records`` minus the
    largest: the boundaries a MERGE rewrite buckets by. None when any
    bound is unknown or not expressible as a Spark literal."""
    his = [r.bounds.get(col, (None, None))[1] for r in records]
    kinds = {r.kinds.get(col) for r in records}
    if (
        not records
        or len(kinds) != 1
        or not kinds <= _LITERAL_SAFE
        or any(h is None or _nan(h) for h in his)
    ):
        return None
    return sorted(his)[:-1]


def rank(col: str, dtype: str) -> Column:
    """Order-preserving numeric surrogate a Z-order interleave ranks
    ``col`` by; the fold below computes the same numbers from stats."""
    if kind_of(dtype) not in EXACT | {"float"} and not dtype.startswith(
        "decimal"
    ):
        raise ValueError(
            f"zorder column {col!r} has non-orderable-numeric type "
            f"{dtype}; derive a numeric rank column upstream (e.g. a "
            "dictionary code) and cluster on that"
        )
    if dtype == "timestamp_ntz":
        return F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', "
            f"`{col}`)"
        ).cast("double")
    if dtype.startswith("timestamp"):
        return F.unix_micros(F.col(col).cast("timestamp")).cast("double")
    if dtype == "date":
        return F.unix_date(F.col(col)).cast("double")
    return F.col(col).cast("double")


def fold(records: list[FileStats], cols: list[str], exact: bool = True):
    """Global ``{col: (lo, hi)}`` of each column's rank folded from
    the records. With ``exact`` the fold must equal a scan: None
    unless every record is exact on every column. Without it, a
    column's fold covers the records with numeric bounds (``(None,
    None)`` when there are none)."""
    if exact and not (
        records and all(r.exact(c) for r in records for c in cols)
    ):
        return None
    out = {}
    for c in cols:
        known = [
            r.bounds[c]
            for r in records
            if r.kinds.get(c) in EXACT | {"float"}
            and None not in r.bounds.get(c, (None, None))
        ]
        out[c] = (
            (float(min(b[0] for b in known)), float(max(b[1] for b in known)))
            if known
            else (None, None)
        )
    return out


def zorder_bounds(
    records: list[FileStats], frame: DataFrame, cols: list[str]
) -> dict[str, tuple]:
    """Exact rank bounds for a Z-order rewrite of ``frame``: folded
    from ``records`` when provably equal, else one aggregate."""
    got = fold(records, cols)
    if got is not None:
        return got
    dtypes = dict(frame.dtypes)
    row = frame.agg(
        *[F.min(rank(c, dtypes[c])) for c in cols],
        *[F.max(rank(c, dtypes[c])) for c in cols],
    ).first()
    return {c: (row[i], row[len(cols) + i]) for i, c in enumerate(cols)}


def zorder_sort_key(
    dtypes: dict[str, str], cols: list[str], bounds: dict, bits: int = 12
) -> Column:
    """Morton key over ``cols``, each rank scaled into ``bits`` bits
    by its ``bounds`` and clamped."""
    from dataflowex_spark.sources import zorder_key

    top = (1 << bits) - 1
    norm = []
    for c in cols:
        mn, mx = bounds[c]
        width = mx - mn if (mn is not None and mx is not None and mx > mn) else 1.0
        lo = F.lit(mn or 0.0)
        scaled = F.floor(
            (F.coalesce(rank(c, dtypes[c]), lo) - lo) * (top / width)
        )
        norm.append(F.least(F.greatest(scaled, F.lit(0)), F.lit(top)))
    return zorder_key(norm, bits)
