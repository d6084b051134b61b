"""The benchmark's workloads: how each op runs through the program, what
it logically reads, how its answer is checked, and (traced runs only)
the direct calls into the ``"dynamo"`` DataSource classes that mirror it.

Every op goes through the public surface a connector user calls:
``read_dynamo`` / ``write_dynamo`` from ``spark_dynamodb_spark.sources``
and a Spark action.  Answers are checked against DuckDB over the seeded
source parquet (reads of read-only stores) or against an in-memory
key -> item model (writes).
"""

from __future__ import annotations

import datetime as dt
import math
import os

from perfbench import datagen
from perfbench.trace import NO_TRACE, dir_snapshot, rewrite_stats

UTC = dt.timezone.utc


# ---------------------------------------------------------------------------
# Answer comparison
# ---------------------------------------------------------------------------

def _norm(v):
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(UTC).replace(tzinfo=None)
    if hasattr(v, "item"):  # numpy scalar
        return v.item()
    return v


def _sort_key(row: tuple):
    return tuple("" if v is None else str(v) for v in row if not isinstance(v, float))


def same_rows(got: list[tuple], want: list[tuple], rel_tol: float = 0.0) -> str | None:
    """None when the two row multisets agree (floats within ``rel_tol``),
    else a one-line description of the first difference."""
    g = sorted((tuple(_norm(v) for v in r) for r in got), key=_sort_key)
    w = sorted((tuple(_norm(v) for v in r) for r in want), key=_sort_key)
    if len(g) != len(w):
        return f"{len(g)} rows, expected {len(w)}"
    for a, b in zip(g, w):
        if len(a) != len(b):
            return f"row {a} has {len(a)} columns, expected {len(b)}"
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=rel_tol, abs_tol=rel_tol):
                    return f"row {a} != {b}"
            elif x != y:
                return f"row {a} != {b}"
    return None


class Context:
    """What every workload of one run shares: the session, the private
    directories and the DuckDB view of the seeded sources."""

    def __init__(self, spark, work_dir: str) -> None:
        self.spark = spark
        self.src_dir = os.path.join(work_dir, "src")
        self.store_dir = os.path.join(work_dir, "store")
        self._duck = None

    @property
    def duck(self):
        if self._duck is None:
            import duckdb

            self._duck = duckdb.connect()
            for name in os.listdir(self.src_dir):
                table = name.removesuffix(".parquet")
                self._duck.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.src_dir, name)}')"
                )
        return self._duck

    def oracle(self, sql: str, params: list | None = None) -> list[tuple]:
        return self.duck.execute(sql, params or []).fetchall()

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()
            self._duck = None


def _read(ctx: Context, table: str, **options):
    from spark_dynamodb_spark.sources import read_dynamo

    return read_dynamo(ctx.spark, table, storeDir=ctx.store_dir, **options)


def build_table(ctx: Context, table: str, tr=NO_TRACE) -> None:
    """Build one private keyed store from its seeded source parquet."""
    from spark_dynamodb_spark.sources import keyed_store

    spec = STORES[table]
    df = ctx.spark.read.parquet(os.path.join(ctx.src_dir, f"{table}.parquet"))
    with tr.span("keyed_store.create_table"):
        keyed_store.create_table(
            ctx.spark, df, table, store_dir=ctx.store_dir, **spec
        )


STORES = {
    "lineitem": {
        "hash_key": "l_orderkey",
        "range_key": "l_linenumber",
        "n_segments": datagen.LINEITEM_SEGMENTS,
    },
    "events": {
        "hash_key": "user_id",
        "range_key": "event_id",
        "gsis": [{"name": "by_type", "hash_key": "event_type", "range_key": "event_id"}],
        "n_segments": datagen.EVENTS_SEGMENTS,
    },
}


# ---------------------------------------------------------------------------
# Direct calls into the DataSource classes (traced runs)
# ---------------------------------------------------------------------------

def direct_read(ctx: Context, tr, table: str, filters: list, **options) -> None:
    """Plan and read one scan in-process, through the same methods
    Spark calls: ``DynamoDataSource.schema``, ``DynamoReader.pushFilters``,
    ``partitions`` and ``read`` over every planned partition."""
    from spark_dynamodb_spark.sources.dynamo import DynamoDataSource

    opts = {"tablename": table, "storedir": ctx.store_dir}
    opts.update({k.lower(): str(v) for k, v in options.items()})
    ds = DynamoDataSource(opts)
    with tr.span("dynamo.direct"):
        with tr.span("dynamo.schema"):
            schema = ds.schema()
        reader = ds.reader(schema)
        with tr.span("dynamo.pushFilters", offered=len(filters)) as s:
            list(reader.pushFilters(filters))
            s.attrs["pushed"] = len(reader.pushed)
        with tr.span("dynamo.partitions") as s:
            parts = reader.partitions()
            s.attrs["segments"] = len(parts)
            s.attrs["files"] = sum(len(p.value["files"]) for p in parts)
        with tr.span("dynamo.read") as s:
            s.attrs["rows"] = sum(b.num_rows for p in parts for b in reader.read(p))


def direct_write(ctx: Context, tr, table: str, schema, rows: list[tuple], **options) -> None:
    """Stage and commit one batch in-process through ``DynamoWriter``.
    Callers re-apply a batch the program already applied, which every
    write mode here (put, update, delete) leaves unchanged."""
    from spark_dynamodb_spark.sources.dynamo import DynamoDataSource

    opts = {"tablename": table, "storedir": ctx.store_dir}
    opts.update({k.lower(): str(v) for k, v in options.items()})
    writer = DynamoDataSource(opts).writer(schema, False)
    with tr.span("dynamo.direct_write"):
        with tr.span("dynamo.writer_write"):
            msg = writer.write(iter(rows))
        with tr.span("dynamo.commit"):
            writer.commit([msg])


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------

class Workload:
    name = ""
    stores: tuple[str, ...] = ()  # built from the same-named seeded sources
    kinds: tuple[str, ...] = ()  # the fixed kind cycle of the op list

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx

    def build(self, tr=NO_TRACE) -> None:
        for t in self.stores:
            build_table(self.ctx, t, tr)

    def run(self, op: dict, tr=NO_TRACE):
        raise NotImplementedError

    def rows_read(self, op: dict, result) -> int:
        raise NotImplementedError

    def check(self, op: dict, result) -> str | None:
        raise NotImplementedError

    def direct(self, op: dict, tr) -> None:
        raise NotImplementedError

    def live_arrow_bytes(self) -> int:
        """Arrow bytes of the live items of every store this workload
        built (the denominator of space_amp)."""
        import pyarrow.parquet as pq

        return sum(
            pq.read_table(os.path.join(self.ctx.src_dir, f"{t}.parquet")).nbytes
            for t in self.stores
        )


def _collect(df, tr):
    with tr.span("spark.action"):
        return [tuple(r) for r in df.collect()]


class KvLookup(Workload):
    """GetItem / Query / 25-key BatchGetItem against the lineitem store."""

    name = "kv_lookup"
    stores = ("lineitem",)
    kinds = ("get", "query", "batch_get")

    def _cond(self, op):
        from pyspark.sql import functions as F

        if op["kind"] == "get":
            return (F.col("l_orderkey") == op["key"]) & (F.col("l_linenumber") == op["line"])
        if op["kind"] == "query":
            return F.col("l_orderkey") == op["key"]
        return F.col("l_orderkey").isin(op["keys"]) & (F.col("l_linenumber") == 1)

    def run(self, op, tr=NO_TRACE):
        with tr.span("sources.read_dynamo"):
            df = _read(self.ctx, "lineitem").filter(self._cond(op))
        return _collect(df, tr)

    def rows_read(self, op, result):
        # A GetItem reads one item slot, found or not (DynamoDB charges a
        # miss like a hit); a Query reads the items of one partition.
        if op["kind"] == "get":
            return 1
        if op["kind"] == "batch_get":
            return len(op["keys"])
        return len(result)

    def check(self, op, result):
        if op["kind"] == "get":
            sql, args = "l_orderkey = ? AND l_linenumber = ?", [op["key"], op["line"]]
        elif op["kind"] == "query":
            sql, args = "l_orderkey = ?", [op["key"]]
        else:
            sql = f"l_orderkey IN ({','.join('?' * len(op['keys']))}) AND l_linenumber = 1"
            args = list(op["keys"])
        return same_rows(result, self.ctx.oracle(f"SELECT * FROM lineitem WHERE {sql}", args))

    def direct(self, op, tr):
        from pyspark.sql.datasource import EqualTo, In

        if op["kind"] == "get":
            f = [EqualTo(("l_orderkey",), op["key"]), EqualTo(("l_linenumber",), op["line"])]
        elif op["kind"] == "query":
            f = [EqualTo(("l_orderkey",), op["key"])]
        else:
            f = [In(("l_orderkey",), tuple(op["keys"])), EqualTo(("l_linenumber",), 1)]
        direct_read(self.ctx, tr, "lineitem", f)


EVENT_COLS = ("user_id", "event_id", "ts", "event_type", "value", "props")
UPDATE_COLS = ("user_id", "event_id", "value", "props")
KEY_COLS = ("user_id", "event_id")


def _event_schema(cols):
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType, TimestampType,
    )

    types = {"user_id": LongType(), "event_id": LongType(), "ts": TimestampType(),
             "event_type": StringType(), "value": DoubleType(), "props": StringType()}
    return StructType([StructField(c, types[c], c not in KEY_COLS) for c in cols])


def _arrow_bytes(schema, rows: list[tuple]) -> int:
    """Arrow bytes of ``rows`` under the Spark ``schema``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    ).nbytes


def _event_row(item: dict, cols) -> tuple:
    row = []
    for c in cols:
        v = item[c]
        if c == "ts":
            v = dt.datetime.fromtimestamp(v / 1e6, UTC) if isinstance(v, int) else v
        row.append(v)
    return tuple(row)


class UpsertMixed(Workload):
    """Put / update / delete batches into a private events store, each
    followed by a read-your-writes GetItem; every fourth op is a full
    count scan."""

    name = "upsert_mixed"
    stores = ("events",)
    kinds = ("count", "put", "update", "delete")
    MODE = {"put": {}, "update": {"update": True}, "delete": {"delete": True}}
    COLS = {"put": EVENT_COLS, "update": UPDATE_COLS, "delete": KEY_COLS}

    def __init__(self, ctx):
        super().__init__(ctx)
        self.model: dict[tuple, tuple] = {}  # (user_id, event_id) -> EVENT_COLS values

    def build(self, tr=NO_TRACE):
        super().build(tr)
        rows = self.ctx.oracle(f"SELECT {', '.join(EVENT_COLS)} FROM events")
        self.model = {r[:2]: tuple(_norm(v) for v in r) for r in rows}

    def _events_dir(self):
        return os.path.join(self.ctx.store_dir, "events")

    def run(self, op, tr=NO_TRACE):
        from pyspark.sql import functions as F

        kind = op["kind"]
        # Each result carries the model's answer at the time of the op,
        # since the model moves on before results are checked.
        if kind == "count":
            with tr.span("sources.read_dynamo"):
                df = _read(self.ctx, "events")
            with tr.span("spark.action"):
                return df.count(), len(self.model)
        from spark_dynamodb_spark.sources import write_dynamo

        cols = self.COLS[kind]
        before = dir_snapshot(self._events_dir()) if tr.enabled else None
        with tr.span("sources.write_dynamo") as s:
            df = self.ctx.spark.createDataFrame(
                [_event_row(it, cols) for it in op["items"]], _event_schema(cols)
            )
            write_dynamo(df, "events", storeDir=self.ctx.store_dir, **self.MODE[kind])
        if before is not None:
            s.attrs["files"], s.attrs["bytes"] = rewrite_stats(
                before, dir_snapshot(self._events_dir())
            )
            s.attrs["user_bytes"] = self._user_bytes(op)
        self._apply(op)
        u, e = op["probe"]
        with tr.span("sources.read_dynamo"):
            df = _read(self.ctx, "events").filter(
                (F.col("user_id") == u) & (F.col("event_id") == e)
            )
        want = self.model.get((u, e))
        return _collect(df, tr), [want] if want else []

    def _user_bytes(self, op) -> int:
        cols = self.COLS[op["kind"]]
        return _arrow_bytes(_event_schema(cols), [_event_row(it, cols) for it in op["items"]])

    def _apply(self, op) -> None:
        """Advance the key -> item model by one write op."""
        kind = op["kind"]
        for it in op["items"]:
            key = (it["user_id"], it["event_id"])
            if kind == "put":
                self.model[key] = tuple(_norm(v) for v in _event_row(it, EVENT_COLS))
            elif kind == "update":
                if key in self.model:
                    old = self.model[key]
                    self.model[key] = old[:4] + (it["value"], it["props"])
                else:
                    self.model[key] = key + (None, None, it["value"], it["props"])
            else:
                self.model.pop(key, None)

    def rows_read(self, op, result):
        got, want = result
        return want if op["kind"] == "count" else len(got)

    def check(self, op, result):
        got, want = result
        if op["kind"] == "count":
            return None if got == want else f"count {got} != {want}"
        return same_rows(got, want)

    def final_check(self) -> str | None:
        """Compare every data and GSI file of the store with the model."""
        import pyarrow.dataset as pds

        from spark_dynamodb_spark.sources import keyed_store

        want = list(self.model.values())
        for index in (None, "by_type"):
            files = keyed_store.list_segments(self.ctx.store_dir, "events", index)
            tbl = pds.dataset(files, format="parquet").to_table(columns=list(EVENT_COLS))
            got = [tuple(r.values()) for r in tbl.to_pylist()]
            bad = same_rows(got, want)
            if bad:
                return f"store {index or 'base'}: {bad}"
        return None

    def live_arrow_bytes(self) -> int:
        return _arrow_bytes(_event_schema(EVENT_COLS), list(self.model.values()))

    def direct(self, op, tr):
        from pyspark.sql.datasource import EqualTo

        if op["kind"] == "count":
            direct_read(self.ctx, tr, "events", [])
            return
        cols = self.COLS[op["kind"]]
        direct_write(self.ctx, tr, "events", _event_schema(cols),
                     [_event_row(it, cols) for it in op["items"]], **self.MODE[op["kind"]])
        u, e = op["probe"]
        direct_read(self.ctx, tr, "events",
                    [EqualTo(("user_id",), u), EqualTo(("event_id",), e)])


WORKLOADS = {w.name: w for w in (KvLookup, UpsertMixed)}


# ---------------------------------------------------------------------------
# Census (traced runs): one call into each layer a workload's own ops
# never reach, so every traced run reports every per-layer metric.
# ---------------------------------------------------------------------------

CENSUS_PRUNED = {  # table -> (filter column, lower bound, group column, summed column)
    "lineitem": ("l_quantity", 25.0, "l_shipmode", "l_discount"),
    "events": ("value", 250.0, "event_type", "value"),
}


def census_pruned(wl: Workload, tr) -> str | None:
    """``count, sum`` grouped by a column over the workload's first
    store, built through ``with_pruned_scans`` so the scan reads only
    the columns the plan needs."""
    from pyspark.sql import functions as F

    from spark_dynamodb_spark.sources.pruning import with_pruned_scans

    table = wl.stores[0]
    fcol, lo, gcol, scol = CENSUS_PRUNED[table]
    widths = []  # scan width of each build pass: full, then pruned

    def build(read):
        df = read(table, storeDir=wl.ctx.store_dir)
        widths.append(len(df.columns))
        return df.filter(F.col(fcol) >= lo).groupBy(gcol).agg(F.count("*"), F.sum(scol))

    with tr.span("pruning.with_pruned_scans") as s:
        df = with_pruned_scans(wl.ctx.spark, build)
    s.attrs["columns_read_frac"] = widths[-1] / widths[0]
    got = _collect(df, tr)
    if isinstance(wl, UpsertMixed):
        agg: dict = {}
        for item in wl.model.values():
            if item[4] >= lo:
                n, total = agg.get(item[3], (0, 0.0))
                agg[item[3]] = (n + 1, total + item[4])
        want = [(k, n, total) for k, (n, total) in agg.items()]
    else:
        want = wl.ctx.oracle(
            f"SELECT {gcol}, count(*), sum({scol}) FROM {table} WHERE {fcol} >= ? GROUP BY 1",
            [lo],
        )
    return same_rows(got, want, rel_tol=1e-9)


def census_write(wl: Workload, tr) -> str | None:
    """Re-put 25 items unchanged, through ``write_dynamo`` and then
    directly through ``DynamoWriter``; the store's contents stay the
    same, so the workload's own answers are unaffected."""
    from spark_dynamodb_spark.sources import write_dynamo

    table = wl.stores[-1]
    rows = wl.ctx.oracle(f"SELECT * FROM {table} ORDER BY 1, 2 LIMIT 25")
    schema = wl.ctx.spark.read.parquet(os.path.join(wl.ctx.src_dir, f"{table}.parquet")).schema
    tdir = os.path.join(wl.ctx.store_dir, table)
    before = dir_snapshot(tdir)
    with tr.span("sources.write_dynamo") as s:
        write_dynamo(wl.ctx.spark.createDataFrame(rows, schema), table, storeDir=wl.ctx.store_dir)
    s.attrs["files"], s.attrs["bytes"] = rewrite_stats(before, dir_snapshot(tdir))
    s.attrs["user_bytes"] = _arrow_bytes(schema, rows)
    direct_write(wl.ctx, tr, table, schema, rows)
    return None


OPERATORS = {  # registry entry -> span name
    "c01_dedup_exact": "operators.dedup.exact",
    "c02_dedup_minhash_lsh": "operators.dedup.minhash_lsh",
    "c03_ann_cosine_topk": "operators.similarity.ann_topk",
    "c04_text_token_stats": "operators.text_analysis.token_stats",
}


def _canon(pdf) -> list[tuple]:
    pdf = pdf[sorted(pdf.columns, key=str.lower)]
    return sorted(tuple(str(_norm(v)) for v in r) for r in pdf.itertuples(index=False))


def census_operators(wl: Workload, tr) -> str | None:
    """Each registry operator once on the seeded corpus, checked
    against the registry's own DuckDB ``oracle_sql``."""
    from spark_dynamodb_spark.maintenance import release_cached
    from spark_dynamodb_spark.registry import load_all

    ctx = wl.ctx
    registry = load_all()
    problems = []
    for name, span in OPERATORS.items():
        spec = registry.resolve(name)
        with tr.span(span):
            got = spec.fn(ctx.spark, ctx.src_dir).toPandas()
        release_cached(ctx.spark)
        if _canon(got) != _canon(ctx.duck.execute(spec.oracle).df()):
            problems.append(name)
    return f"{', '.join(problems)} differ from their oracle" if problems else None
