"""``lakehouse_rw``: reads beside writes on long-lived tables.

An MTable, a Delta and an Iceberg table are built at set-up from the
orders table: 150,000 rows in 16 key-ranged files, each writer using
its default file statistics. A seeded stream of operations then runs
through the package's public table APIs: key- and date-range reads
with pruning, a changefeed read, upserts (one of them a streaming
drain into the MTable), predicate deletes that write deletion vectors
or position deletes, and maintenance that folds the delete debt back.
Every table has a DuckDB mirror that replays the same operations, and
every read is compared with its mirror.
"""

from __future__ import annotations

import datetime as dt
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from dataflowex_spark.sources import delta_reader as dl
from dataflowex_spark.sources import iceberg_reader as ic
from dataflowex_spark.sources.mtable import MTable
from dataflowex_spark.streaming import ops as so

import datagen
from datagen import ORDER_DAY0, ORDER_DAYS, ORDER_STATUSES, PRIORITIES
from oracle import frame_hash
from runner import Op

KEY = "o_orderkey"
BASE_ROWS = datagen.BASE_ROWS["orders"]
N_FILES = 16
# Op sizes. With these, reads on the three tables run as in the
# lakehouse probe recorded for this benchmark (perfbench/README.md):
# Iceberg reads slow down round after round while MTable and Delta
# reads hold.
KEY_SPAN = 3_000          # rows per key-range read
DATE_SPAN_DAYS = 30       # a month of orders (~1.25%) per date-range read
UPSERT_WINDOW = 3_000     # an upsert rewrites keys from one window of this span
UPSERT_UPDATES = 1_000    # existing keys rewritten per upsert
UPSERT_INSERTS = 200      # new keys per upsert
DELETE_SPAN = 6_000       # key span of a predicate delete
DELETE_ONE_IN = 5         # a delete takes one key in five, as q357's does
#: the base files an op's keys come from. An op's keys lie in one file,
#: drawn from the seed, so every op of a kind does the same work.
#: Upserts keep to the lower half and deletes to the upper half, so an
#: upsert never rewrites the file a delete of the same pass left debt in,
#: and every pass leaves the MTable's maintenance the same kind of work.
READ_FILES = range(N_FILES)
UPSERT_FILES = range(N_FILES // 2)
DELETE_FILES = range(N_FILES // 2, N_FILES)
FIRST_DAY = dt.datetime.fromisoformat(ORDER_DAY0)
META_DIRS = {"mtable": "_v", "delta": "_delta_log", "iceberg": "metadata"}
#: the op kinds of one pass, per table. Every table gets an upsert and
#: a delete. Delta and Iceberg get the read the probe shows ageing most
#: as writes pile up: Delta's key-range read (its deletion vectors are
#: encoded in Python workers) and Iceberg's date-range read, which opens
#: every file because Iceberg keeps no timestamp bounds. Only the MTable
#: gets its changefeed, a streaming upsert (the benchmark's one
#: streaming drain) and maintenance, so Delta and Iceberg state builds
#: up over a run as in the probe.
KINDS = {
    "mtable": ("read_key", "read_date", "upsert", "stream_upsert", "delete",
               "maintain", "changes"),
    "delta": ("read_key", "upsert", "delete"),
    "iceberg": ("read_date", "upsert", "delete"),
}
#: MTable versions whose mirror snapshot is kept for changefeed checks
SNAPSHOTS_KEPT = 4


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


def _check(pdf: pd.DataFrame, want: pd.DataFrame) -> str | None:
    if len(pdf) != len(want):
        return f"rows {len(pdf)} != mirror {len(want)}"
    if sorted(pdf.columns) != sorted(want.columns):
        return "columns differ from mirror"
    if frame_hash(pdf) != frame_hash(want):
        return "value hash differs from mirror"
    return None


class Table:
    """One table, its DuckDB mirror, its op kinds and its write
    accounting. Its ops draw from its own generator, so two tables'
    ops can run side by side and still see the same inputs."""

    def __init__(self, fmt: str, spark: SparkSession, work_dir: str,
                 duck: duckdb.DuckDBPyConnection, rng: np.random.Generator):
        self.fmt = fmt
        self.spark = spark
        self.root = os.path.join(work_dir, fmt)
        self.work_dir = work_dir
        self.duck = duck.cursor()
        self.rng = rng
        self.mirror = f"mirror_{fmt}"
        self.next_key = BASE_ROWS
        #: (first key, last key) of each base file
        self.file_keys: list[tuple[int, int]] = []
        self.mt: MTable | None = None
        self.schema: T.StructType | None = None
        self.commits = 0
        self.write_bytes = 0
        self.logical_bytes = 0.0
        self.bytes_per_row = 0.0
        self._listing: dict[str, int] = {}
        self.snapshots: list[int] = []

    # -- set-up ----------------------------------------------------------

    def create(self, df16: DataFrame, file_keys: list[tuple[int, int]],
               orders_path: str) -> None:
        self.schema = df16.schema
        self.file_keys = file_keys
        if self.fmt == "mtable":
            self.mt = MTable.create(self.spark, self.root, df16, KEY)
        elif self.fmt == "delta":
            dl.write_delta(self.spark, df16, self.root)
        else:
            ic.write_iceberg(self.spark, df16, self.root)
        self.duck.execute(
            f"CREATE TABLE {self.mirror} AS SELECT * FROM '{orders_path}'"
        )
        self._listing = _files(self.root)
        data = sum(s for p, s in self._listing.items() if not self._is_meta(p))
        self.bytes_per_row = data / BASE_ROWS
        self._snapshot()

    def _is_meta(self, path: str) -> bool:
        rel = os.path.relpath(path, self.root)
        return rel.split(os.sep)[0] == META_DIRS[self.fmt]

    def ops(self) -> list[Op]:
        makers = {
            "read_key": ("read", self._read_key),
            "read_date": ("read", self._read_date),
            "upsert": ("write", self._upsert),
            "stream_upsert": ("write", self._stream_upsert),
            "delete": ("write", self._delete),
            "maintain": ("write", self._maintain),
            "changes": ("read", self._changes),
        }
        out = []
        for kind in KINDS[self.fmt]:
            io, make = makers[kind]
            out.append(Op(f"{self.fmt}.{kind}", io, *make(), lane=self.fmt,
                          last=kind == "maintain"))
        return out

    # each op kind is (run, verify): run is timed and draws its
    # parameters from the seeded stream; verify is untimed

    def _read_key(self):
        state = {}

        def run():
            lo = self._key_window(READ_FILES, KEY_SPAN)
            hi = lo + KEY_SPAN - 1
            state["where"] = f"{KEY} BETWEEN {lo} AND {hi}"
            if self.fmt == "mtable":
                df = self.mt.read_where(lo, hi)
            else:
                df = self._read_skipping([(KEY, ">=", lo), (KEY, "<=", hi)])
            return df.toPandas()

        return run, lambda pdf: _check(pdf, self._mirror_rows(state["where"]))

    def _read_date(self):
        state = {}

        def run():
            day = int(self.rng.integers(0, ORDER_DAYS - DATE_SPAN_DAYS))
            lo = FIRST_DAY + dt.timedelta(days=day)
            hi = lo + dt.timedelta(days=DATE_SPAN_DAYS - 1)
            state["where"] = f"o_orderdate BETWEEN '{lo}' AND '{hi}'"
            if self.fmt == "mtable":
                df = self.mt.read_where(where={"o_orderdate": (lo, hi)})
            else:
                df = self._read_skipping(
                    [("o_orderdate", ">=", lo), ("o_orderdate", "<=", hi)]
                )
            return df.toPandas()

        return run, lambda pdf: _check(pdf, self._mirror_rows(state["where"]))

    def _key_window(self, files: range, span: int) -> int:
        """The first of ``span`` consecutive keys inside one base file
        drawn from ``files``."""
        lo, hi = self.file_keys[int(self.rng.integers(files.start, files.stop))]
        return int(self.rng.integers(lo, hi - span + 2))

    def _read_skipping(self, where: list[tuple]) -> DataFrame:
        read = dl.read_delta if self.fmt == "delta" else ic.read_iceberg
        return read(self.spark, self.root, skip_where=where)

    def _mirror_rows(self, where: str) -> pd.DataFrame:
        return self.duck.execute(f"SELECT * FROM {self.mirror} WHERE {where}").df()

    def _batch(self) -> pd.DataFrame:
        """A change batch: updates clustered on one key window, as CDC
        batches are, plus inserts of new keys."""
        rng = self.rng
        lo = self._key_window(UPSERT_FILES, UPSERT_WINDOW)
        old = lo + rng.choice(UPSERT_WINDOW, UPSERT_UPDATES, replace=False)
        new = np.arange(self.next_key, self.next_key + UPSERT_INSERTS)
        self.next_key += UPSERT_INSERTS
        keys = np.concatenate([old, new]).astype(np.int64)
        n = len(keys)
        days = rng.integers(0, ORDER_DAYS, n)
        return pd.DataFrame(
            {
                "o_orderkey": keys,
                "o_custkey": rng.integers(0, datagen.BASE_ROWS["customer"], n).astype(np.int64),
                "o_orderstatus": np.array(ORDER_STATUSES)[rng.integers(0, 3, n)],
                "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
                "o_orderdate": pd.to_datetime(FIRST_DAY) + pd.to_timedelta(days, unit="D"),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
            }
        )

    def _value_cols(self) -> list[str]:
        return [f.name for f in self.schema.fields if f.name != KEY]

    def _upsert(self):
        state = {}

        def run():
            batch = state["batch"] = self._batch()
            sdf = self.spark.createDataFrame(batch, self.schema)
            if self.fmt == "mtable":
                changes = sdf.select(
                    "*", F.lit(1).alias("ts"), F.lit("U").alias("op"),
                    F.lit(0).alias("tie"),
                )
                self.mt.merge(changes, "ts", "op", "tie", self._value_cols())
            elif self.fmt == "delta":
                dl.merge_delta(self.spark, self.root, sdf, on=[KEY])
            else:
                ic.upsert_iceberg(self.spark, self.root, sdf, on=[KEY])
            return len(batch)

        return run, self._verify_upsert(state)

    def _stream_upsert(self):
        """A change batch lands as a file in a stream source directory
        and an availableNow drain merges it into the MTable."""
        src = os.path.join(self.work_dir, "mtable_changes")
        ckpt = os.path.join(self.work_dir, "mtable_changes_ckpt")
        os.makedirs(src, exist_ok=True)
        state = {}

        def run():
            batch = state["batch"] = self._batch()
            table = pa.Table.from_pandas(
                batch.assign(ts=1, op="U", tie=0), preserve_index=False
            )
            i = table.schema.get_field_index("o_orderdate")
            table = table.set_column(
                i, "o_orderdate", table.column(i).cast(pa.timestamp("us"))
            )
            pq.write_table(table, os.path.join(src, f"part-{len(os.listdir(src)):05d}.parquet"))
            schema = T.StructType(
                self.schema.fields + [
                    T.StructField("ts", T.LongType()),
                    T.StructField("op", T.StringType()),
                    T.StructField("tie", T.LongType()),
                ]
            )
            stream = self.spark.readStream.schema(schema).parquet(src)
            so.mtable_merge_stream(
                stream, self.mt, "ts", "op", "tie", self._value_cols(),
                app_id="perfbench", checkpoint_dir=ckpt,
            )
            return len(batch)

        return run, self._verify_upsert(state)

    def _verify_upsert(self, state: dict):
        def verify(n):
            batch = state["batch"]
            self.duck.register("batch", batch)
            self.duck.execute(
                f"DELETE FROM {self.mirror} WHERE {KEY} IN (SELECT {KEY} FROM batch)"
            )
            self.duck.execute(f"INSERT INTO {self.mirror} SELECT * FROM batch")
            self.duck.unregister("batch")
            self._account_write(n)
            return None

        return verify

    def _delete(self):
        state = {}

        def run():
            lo = self._key_window(DELETE_FILES, DELETE_SPAN)
            r = int(self.rng.integers(0, DELETE_ONE_IN))
            pred = state["pred"] = (
                f"{KEY} >= {lo} AND {KEY} < {lo + DELETE_SPAN} "
                f"AND {KEY} % {DELETE_ONE_IN} = {r}"
            )
            if self.fmt == "mtable":
                self.mt.delete_where(pred)
            elif self.fmt == "delta":
                dl.delete_from_delta(self.spark, self.root, pred)
            else:
                ic.delete_from_iceberg(self.spark, self.root, pred)

        def verify(_):
            pred = state["pred"]
            n = self.duck.execute(
                f"SELECT count(*) FROM {self.mirror} WHERE {pred}"
            ).fetchone()[0]
            self.duck.execute(f"DELETE FROM {self.mirror} WHERE {pred}")
            self._account_write(n)
            return None

        return run, verify

    def _maintain(self):
        """Fold the MTable's deletion vectors back into its data files."""

        def run():
            self.mt.apply_deletion_vectors()

        def verify(_):
            self._account_write(0)
            return None

        return run, verify

    def _changes(self):
        state = {}

        def run():
            # the oldest kept version gives the widest net change
            state["v"] = self.snapshots[0]
            return self.mt.read_changes(state["v"]).toPandas()

        return run, lambda pdf: _check(pdf, self._expected_changes(state["v"]))

    # -- accounting ------------------------------------------------------

    def _account_write(self, logical_rows: int) -> None:
        """Untimed: bytes the last write added, and a commit if any."""
        listing = _files(self.root)
        new = [p for p in listing if p not in self._listing]
        if any(self._is_meta(p) for p in new):
            self.commits += 1
        self.write_bytes += sum(listing[p] for p in new)
        self.logical_bytes += logical_rows * self.bytes_per_row
        self._listing = listing
        self._snapshot()

    def _snapshot(self) -> None:
        """Keep the mirror state at each MTable version."""
        if self.fmt != "mtable":
            return
        v = self.mt.current_version()
        if self.snapshots and self.snapshots[-1] == v:
            return
        self.duck.execute(
            f"CREATE OR REPLACE TABLE snap_{v} AS SELECT * FROM {self.mirror}"
        )
        self.snapshots.append(v)
        while len(self.snapshots) > SNAPSHOTS_KEPT:
            self.duck.execute(f"DROP TABLE snap_{self.snapshots.pop(0)}")

    def _expected_changes(self, v_from: int) -> pd.DataFrame:
        """The net change ``v_from -> now`` as MTable's changefeed
        reports it: I/D by key presence, U when any value differs."""
        cols = [KEY] + self._value_cols()
        differs = " OR ".join(f"a.{c} IS DISTINCT FROM b.{c}" for c in cols[1:])
        post, pre = self.mirror, f"snap_{v_from}"
        sel_a = ", ".join(f"a.{c}" for c in cols)
        sel_b = ", ".join(f"b.{c}" for c in cols)
        return self.duck.execute(
            f"""
            SELECT 'I' AS op, {sel_a} FROM {post} a ANTI JOIN {pre} b USING ({KEY})
            UNION ALL
            SELECT 'D' AS op, {sel_b} FROM {pre} b ANTI JOIN {post} a USING ({KEY})
            UNION ALL
            SELECT 'U' AS op, {sel_a} FROM {post} a JOIN {pre} b USING ({KEY})
            WHERE {differs}
            """
        ).df()

    def reset_counters(self) -> None:
        self.commits, self.write_bytes, self.logical_bytes = 0, 0, 0.0

    def full_read(self) -> DataFrame:
        if self.fmt == "mtable":
            return self.mt.read()
        return self._read_skipping([])

    def stats(self) -> dict[str, float]:
        listing = _files(self.root)
        live = self.duck.execute(f"SELECT count(*) FROM {self.mirror}").fetchone()[0]
        return {
            "bytes": float(sum(listing.values())),
            "metadata_files": float(sum(1 for p in listing if self._is_meta(p))),
            "live_bytes": live * self.bytes_per_row,
        }


class Lakehouse:
    """The tables of one run and the op kinds of a pass over them."""

    def __init__(self, spark: SparkSession, data_dir: str, work_dir: str,
                 rng: np.random.Generator):
        self.spark = spark
        self.orders_path = os.path.join(data_dir, "orders.parquet")
        self.duck = duckdb.connect()
        self.duck.execute("SET threads TO 2")
        self.tables = [
            Table(f, spark, work_dir, self.duck,
                  np.random.default_rng(int(rng.integers(2**63))))
            for f in KINDS
        ]

    def setup(self) -> None:
        orders = self.spark.read.parquet(self.orders_path)
        # range-partition once; every writer then writes the same 16
        # files, the writers side by side
        df16 = orders.repartitionByRange(N_FILES, KEY).localCheckpoint()
        bounds = (
            df16.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.min(KEY), F.max(KEY)).orderBy("p").collect()
        )
        file_keys = [(int(lo), int(hi)) for _, lo, hi in bounds]
        if len(file_keys) != N_FILES or min(hi - lo for lo, hi in file_keys) < DELETE_SPAN:
            raise RuntimeError(f"base files too small for the op sizes: {file_keys}")
        with ThreadPoolExecutor(len(self.tables)) as pool:
            for f in [
                pool.submit(t.create, df16, file_keys, self.orders_path)
                for t in self.tables
            ]:
                f.result()

    def ops(self) -> list[Op]:
        return [op for t in self.tables for op in t.ops()]

    def reset_counters(self) -> None:
        """Start write accounting afresh (after the warm-up pass)."""
        for t in self.tables:
            t.reset_counters()

    def layer_metrics(self, live_files: bool) -> dict[str, float]:
        ts = self.tables
        st = [t.stats() for t in ts]
        m = {
            "sources.commits": float(sum(t.commits for t in ts)),
            "sources.write_mb": sum(t.write_bytes for t in ts) / 1e6,
            "sources.write_amp": sum(t.write_bytes for t in ts)
            / max(1.0, sum(t.logical_bytes for t in ts)),
            "sources.metadata_files": sum(s["metadata_files"] for s in st),
            "sources.space_amp": sum(s["bytes"] for s in st)
            / sum(s["live_bytes"] for s in st),
        }
        if live_files:
            # files a full read of each table opens: data files plus
            # any deletion-vector / position-delete files
            m["sources.live_files"] = float(
                sum(len(t.full_read().inputFiles()) for t in ts)
            )
        return m

    def close(self) -> None:
        for t in self.tables:
            t.duck.close()
        self.duck.close()
