"""The benchmark's workloads.

Each workload is driven as a closed loop by one client: it issues an op,
waits for it to finish, checks its result outside the timed region, then
issues the next.  Ops come in rounds: a round is one pass over the
workload's fixed op mix, always in the same order, with inputs drawn
from the seed.

A workload provides

* ``build_fixture()`` — the build of its starting state;
* ``warm_up()`` — untimed work before the first timed op;
* ``round(r)`` — yields the ops of round ``r``; the inputs of an op are
  made when the generator advances, so their cost is never timed;
* ``final_check()`` — verification of the end state, outside any timing;
* ``op_counts()`` / ``layer_counts()`` — file counts the program reports
  for the op that just ran, and on-disk totals of the workload.

Every input reaches the program through its public calls only:
``api.df_to_spark``, ``VersionedLake`` methods, ``SqlSink`` and the
query functions of ``plans.registry``.
"""

from __future__ import annotations

import hashlib
import math
import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

import datagen


@dataclass(frozen=True)
class Sizes:
    lake_rows: int = 20_000     # orders rows in the lake table
    lake_files: int = 8         # files the lake table is clustered into
    lake_delta: int = 1_000     # rows per append / upsert / merge_keyed
    sql_rows: int = 10_000      # orders rows per SQL create
    sql_delta: int = 1_000      # rows per SQL append / upsert
    mix_sf: float = 0.01        # scale factor of the operator_mix tables
    customers: int = 1_500


FULL = Sizes()
SMOKE = Sizes(lake_rows=3_000, lake_files=4, lake_delta=150, sql_rows=1_500,
              sql_delta=150, mix_sf=0.001, customers=150)

# the lake writer checkpoints every 4th version; a round commits four
# versions in a fixed order, so the merge of every round writes the
# columnar checkpoint sidecar and every run crosses several checkpoints
CHECKPOINT_INTERVAL = 4
SCAN_DAYS = 30
MIX_QUERIES = [
    "q1_pricing_summary",
    "exact_dedup_groups",
    "minhash_lsh_pairs",
    "knn_topk",
]
DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


@dataclass
class Op:
    kind: str
    desc: str                   # the op's seeded input, for the op log
    rows: int                   # input rows an op lands (0 for reads)
    run: Callable[[], Any]
    check: Callable[[Any], bool]


@dataclass
class Context:
    spark: Any
    seed: int
    work_dir: str
    cpus: int
    tracer: Any
    sizes: Sizes = FULL


class Model:
    """Replay of a table's expected contents: key → (price in cents,
    order date).  Kept in step with every committed write."""

    def __init__(self, frame: pd.DataFrame):
        self.frame = self._index(frame)

    @staticmethod
    def _index(frame: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "cents": np.round(frame["o_totalprice"].to_numpy() * 100).astype(np.int64),
                "date": frame["o_orderdate"].to_numpy(),
            },
            index=frame["o_orderkey"].to_numpy(),
        )

    def upsert(self, frame: pd.DataFrame) -> None:
        new = self._index(frame)
        self.frame = pd.concat([self.frame.drop(new.index, errors="ignore"), new])

    def delete(self, key: int) -> None:
        self.frame = self.frame.drop([key], errors="ignore")

    def totals(self, mask=None) -> tuple[int, int, int]:
        f = self.frame if mask is None else self.frame[mask(self.frame)]
        return len(f), int(f.index.to_numpy().sum()), int(f["cents"].sum())


def _agg_totals(df) -> tuple[int, int, int]:
    """(rows, sum of keys, sum of price cents) of a Spark frame of orders."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)),
        F.sum("o_orderkey"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
    ).collect()[0]
    return int(row[0]), int(row[1] or 0), int(row[2] or 0)


def _applied(model_of: Callable[[], Model], pdf: pd.DataFrame):
    def check(_result) -> bool:
        model_of().upsert(pdf)
        return True
    return check


# --------------------------------------------------------------------------
class LakeOps:
    """Seeded writes and reads on one ``VersionedLake`` table of orders."""

    kinds = ("lake_append", "scan_warm", "lake_upsert", "scan_cold", "lake_merge",
             "lake_delete")

    def __init__(self, ctx: Context):
        from df_to_azure_spark.operators.manifest import VersionedLake

        self.ctx = ctx
        self.sz = ctx.sizes
        self.VersionedLake = VersionedLake
        self.rng = datagen.rng_for(ctx.seed, "lake.ops")
        self.base = datagen.orders_frame(
            ctx.seed, np.arange(self.sz.lake_rows), self.sz.customers, "lake.base"
        )
        self.next_key = self.sz.lake_rows
        self.root = None
        self.cold = None

    def table_dir(self) -> str:
        return os.path.join(self.root, "orders")

    def build_fixture(self) -> None:
        self.root = os.path.join(self.ctx.work_dir, "lake")
        self.lake = self.VersionedLake(
            self.ctx.spark, self.root, checkpoint_interval=CHECKPOINT_INTERVAL
        )
        self.lake.create(
            self.ctx.spark.createDataFrame(self.base), "orders",
            sort_by=["o_orderkey"], sort_files=self.sz.lake_files,
        )
        self.model = Model(self.base)

    def warm_up(self) -> None:
        self.lake.scan("orders", [("o_orderkey", "=", 0)]).count()

    def _frame(self, keys: np.ndarray, stream: str):
        pdf = datagen.orders_frame(self.ctx.seed, keys, self.sz.customers, stream)
        return pdf, self.ctx.spark.createDataFrame(pdf)

    def round(self, r: int):
        from df_to_azure_spark import api

        sz = self.sz
        model = lambda: self.model  # noqa: E731
        # facade append of fresh keys
        keys = np.arange(self.next_key, self.next_key + sz.lake_delta)
        self.next_key += sz.lake_delta
        pdf, df = self._frame(keys, f"append{r}")
        yield Op("lake_append", f"keys {keys[0]}+{len(keys)}", len(pdf),
                 lambda: api.df_to_spark(
                     df, "orders", method="append", parquet=True,
                     lake_root=self.root, versioned=True,
                 ), _applied(model, pdf))
        # warm scan: a 30-day order-date range on the long-lived instance
        day = int(self.rng.integers(0, datagen.ORDER_SPAN_DAYS - SCAN_DAYS))
        lo = (datagen.EPOCH + np.timedelta64(day, "D")).astype("datetime64[us]")
        hi = lo + np.timedelta64(SCAN_DAYS, "D")
        preds = [("o_orderdate", ">=", lo.item()), ("o_orderdate", "<", hi.item())]
        yield Op("scan_warm", f"day {day}", 0,
                 lambda: self._scan(self.lake, preds),
                 self._scanned(lambda f: (f["date"] >= lo) & (f["date"] < hi)))
        # facade upsert of scattered existing keys (full-rewrite path)
        keys = np.sort(self.rng.choice(self.next_key, sz.lake_delta, replace=False))
        pdf2, df2 = self._frame(keys, f"upsert{r}")
        yield Op("lake_upsert", f"keys sum {int(keys.sum())}", len(pdf2),
                 lambda: api.df_to_spark(
                     df2, "orders", method="upsert", id_field="o_orderkey",
                     parquet=True, lake_root=self.root, versioned=True,
                 ), _applied(model, pdf2))
        # cold scan: a new reader resolves the table from disk, point key
        key = int(self.rng.integers(0, self.next_key))
        yield Op("scan_cold", f"key {key}", 0, lambda: self._cold_scan(key),
                 self._scanned(lambda f: f.index == key))
        # merge_keyed of a contiguous key range (pruning-bounded rewrite)
        lo_key = int(self.rng.integers(0, sz.lake_rows - sz.lake_delta))
        pdf3, df3 = self._frame(np.arange(lo_key, lo_key + sz.lake_delta), f"merge{r}")
        yield Op("lake_merge", f"keys {lo_key}+{sz.lake_delta}", len(pdf3),
                 lambda: self.lake.merge_keyed(df3, "orders", ["o_orderkey"]),
                 _applied(model, pdf3))
        # delete_where on a point key
        dkey = int(self.rng.integers(0, sz.lake_rows))
        yield Op("lake_delete", f"key {dkey}", 0,
                 lambda: self.lake.delete_where("orders", [("o_orderkey", "=", dkey)]),
                 self._deleted(dkey))

    def _scan(self, lake, preds):
        tracer = self.ctx.tracer
        df = lake.scan("orders", preds)
        with tracer.span("manifest.scan.exec"):
            return _agg_totals(df)

    def _cold_scan(self, key: int):
        self.cold = self.VersionedLake(self.ctx.spark, self.root)
        return self._scan(self.cold, [("o_orderkey", "=", key)])

    def op_counts(self) -> dict[str, int]:
        """File counts the lake reports for the op that just ran: files a
        scan read out of those it listed, and files a merge or delete
        rewrote out of those the table had."""
        out = {}
        for lake in (self.lake, self.cold):
            if lake is not None and lake.last_scan_files is not None:
                out["files_read"], out["files_total"] = lake.last_scan_files
                lake.last_scan_files = None
        if self.lake.last_rewrite_files is not None:
            dropped, rewritten, carried = self.lake.last_rewrite_files
            out["files_rewritten"] = dropped + rewritten
            out["files_before"] = dropped + rewritten + carried
            self.lake.last_rewrite_files = None
        return out

    def _deleted(self, key: int):
        def check(_result) -> bool:
            self.model.delete(key)
            return True
        return check

    def _scanned(self, mask):
        def check(result) -> bool:
            return tuple(result) == self.model.totals(mask)
        return check

    def final_check(self) -> list[str]:
        got = _agg_totals(self.VersionedLake(self.ctx.spark, self.root).read("orders"))
        want = self.model.totals()
        return [] if got == want else [f"lake end state {got} != replay {want}"]

    def layer_counts(self) -> dict[str, int]:
        """Bytes under the table directory and checkpoint sidecars on disk."""
        total = sidecars = 0
        for dirpath, _dirs, files in os.walk(self.table_dir()):
            for fn in files:
                total += os.path.getsize(os.path.join(dirpath, fn))
                sidecars += fn.endswith(".ckpt.parquet")
        return {"table_bytes": total, "sidecars": sidecars}


# --------------------------------------------------------------------------
class SqlOps:
    """One load lifecycle per round into embedded Derby through
    ``SqlSink``: ``create`` (typed DDL), ``append``, keyed ``upsert``."""

    kinds = ("sql_create", "sql_append", "sql_upsert")

    def __init__(self, ctx: Context):
        from df_to_azure_spark.operators.sql_sink import SqlSink

        self.ctx = ctx
        self.sz = ctx.sizes
        self.rng = datagen.rng_for(ctx.seed, "sql.ops")
        db = os.path.join(ctx.work_dir, "derby", "bench")
        self.sink = SqlSink(
            ctx.spark, url=f"jdbc:derby:{db};create=true", driver=DERBY_DRIVER,
            dialect="ansi", num_partitions=ctx.cpus,
        )
        self.base = datagen.orders_frame(
            ctx.seed, np.arange(self.sz.sql_rows), self.sz.customers, "sql.base"
        )
        self.model = None

    def build_fixture(self) -> None:
        """The database and its schema; every round creates its table."""
        self.sink.create_schema("dbo")

    def round(self, r: int):
        from df_to_azure_spark import api

        spark = self.ctx.spark
        rows, delta = self.sz.sql_rows, self.sz.sql_delta
        model = lambda: self.model  # noqa: E731
        base_df = spark.createDataFrame(self.base)
        yield Op("sql_create", f"rows {rows}", rows, lambda: api.df_to_spark(
            base_df, "orders", method="create", sql_sink=self.sink,
        ), self._created())
        fresh = np.arange(rows + r * delta, rows + (r + 1) * delta)
        app = datagen.orders_frame(self.ctx.seed, fresh, self.sz.customers, f"sql_append{r}")
        app_df = spark.createDataFrame(app)
        yield Op("sql_append", f"keys {fresh[0]}+{delta}", delta, lambda: api.df_to_spark(
            app_df, "orders", method="append", sql_sink=self.sink,
        ), _applied(model, app))
        # keys drawn over the created rows and this round's appended ones
        keys = np.sort(self.rng.choice(rows + delta, delta, replace=False))
        keys = keys + np.where(keys >= rows, r * delta, 0)
        ups = datagen.orders_frame(self.ctx.seed, keys, self.sz.customers, f"sql_upsert{r}")
        ups_df = spark.createDataFrame(ups)
        yield Op("sql_upsert", f"keys sum {int(keys.sum())}", delta, lambda: api.df_to_spark(
            ups_df, "orders", method="upsert", id_field="o_orderkey", sql_sink=self.sink,
        ), self._read_back(ups))

    def _created(self):
        """Resets the model, then gives the new table an index on its key,
        as a keyed target table has: without one Derby's MERGE is a nested
        loop whose time swings eightfold from one round to the next."""
        def check(_result) -> bool:
            self.model = Model(self.base)
            self.sink.execute('CREATE INDEX dbo.orders_key ON dbo.orders ("o_orderkey")')
            return True
        return check

    def _read_back(self, pdf: pd.DataFrame):
        """Applies the upsert to the model, then reads the table back over
        JDBC and compares count and sums."""
        def check(_result) -> bool:
            self.model.upsert(pdf)
            return _agg_totals(self.sink.read("orders")) == self.model.totals()
        return check

    def final_check(self) -> list[str]:
        got = _agg_totals(self.sink.read("orders"))
        want = self.model.totals()
        return [] if got == want else [f"sql end state {got} != replay {want}"]


# --------------------------------------------------------------------------
class Load:
    """The paper's job: land DataFrames durably in both sinks.  A round is
    the lake op mix, then one SQL load lifecycle."""

    name = "load"

    def __init__(self, ctx: Context):
        self.lake = LakeOps(ctx)
        self.sql = SqlOps(ctx)
        self.kinds = self.lake.kinds + self.sql.kinds

    def build_fixture(self) -> None:
        self.lake.build_fixture()
        self.sql.build_fixture()

    def warm_up(self) -> None:
        self.lake.warm_up()

    def round(self, r: int):
        yield from self.lake.round(r)
        yield from self.sql.round(r)

    def op_counts(self) -> dict[str, int]:
        return self.lake.op_counts()

    def layer_counts(self) -> dict[str, int]:
        return self.lake.layer_counts()

    def final_check(self) -> list[str]:
        return self.lake.final_check() + self.sql.final_check()


# --------------------------------------------------------------------------
class OperatorMix:
    """One pass over a fixed list of registry queries per round, each
    materialized through the ``noop`` sink, pins released in between."""

    name = "operator_mix"
    kinds = tuple(MIX_QUERIES)

    def __init__(self, ctx: Context):
        from df_to_azure_spark.plans import registry

        self.ctx = ctx
        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()
        self.data_dir = None
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}
        self.released = 0

    def build_fixture(self) -> None:
        self.data_dir = os.path.join(self.ctx.work_dir, "tables")
        datagen.write_star_schema(self.ctx.seed, self.ctx.sizes.mix_sf, self.data_dir)

    def warm_up(self) -> None:
        """First pass: warms code generation and class loading, and
        collects every result for the oracle comparison in
        ``final_check`` (row counts of later passes are checked per op)."""
        from df_to_azure_spark import session

        for name in MIX_QUERIES:
            df = self.queries[name](self.ctx.spark, self.data_dir)
            self.results[name] = (list(df.columns), [tuple(r) for r in df.collect()])
            session.release_pins(self.ctx.spark)

    def round(self, r: int):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from df_to_azure_spark import session

        tracer = self.ctx.tracer
        for name in MIX_QUERIES:
            obs = Observation()

            def run(name=name, obs=obs):
                with tracer.span(f"query.{name}.build"):
                    df = self.queries[name](self.ctx.spark, self.data_dir)
                with tracer.span(f"query.{name}.exec"):
                    df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                        "overwrite"
                    ).format("noop").save()
                self.released += session.release_pins(self.ctx.spark)

            yield Op(name, name, 0, run, lambda _r, name=name, obs=obs: (
                int(obs.get["n"]) == len(self.results[name][1])
            ))

    def final_check(self) -> list[str]:
        """Hash of each warm-up result against ``oracle_sql()`` in DuckDB."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in os.listdir(self.data_dir):
                if t.endswith(".parquet"):
                    path = os.path.join(self.data_dir, t)
                    con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{path}'")
            problems = []
            for name in MIX_QUERIES:
                cols, rows = self.results[name]
                rel = con.sql(self.oracles[name])
                ocols = [d[0] for d in rel.description]
                if sorted(ocols) != sorted(cols):
                    problems.append(f"{name}: columns {sorted(cols)} != oracle {sorted(ocols)}")
                elif _result_hash(cols, rows) != _result_hash(ocols, rel.fetchall()):
                    problems.append(f"{name}: result differs from oracle_sql()")
            return problems
        finally:
            con.close()

    def op_counts(self) -> dict[str, int]:
        return {}

    def layer_counts(self) -> dict[str, int]:
        return {"pins_released": self.released}


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if v is None:
        return "NULL"
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _result_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result, columns matched by name and
    floats compared to nine significant digits."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    keyed = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(keyed).encode()).hexdigest()


WORKLOADS = {w.name: w for w in (Load, OperatorMix)}
