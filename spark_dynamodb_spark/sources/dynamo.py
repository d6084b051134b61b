"""The "dynamo" Python DataSource — the reference's connector surface
re-expressed on the PySpark DataSource API (SURVEY §2 Part A).

Capability parity map (reference file → here):

- DefaultSource.scala (A1 source registration)      → DynamoDataSource.name
- DynamoDbTable.scala (A2/A3 schema inference)      → DynamoDataSource.schema
- TableConnector.scala (A4 segmented parallel scan) → DynamoReader.partitions/read
- TableIndexConnector.scala (A5 GSI read)           → option("indexName", ...)
- DynamoScanBuilder/FilterPushdown.scala (A6/A7)    → DynamoReader.pushFilters +
                                                      option("columns", ...)
- TableConnector rate limiting (A8)                 → rate_limiter.TokenBucket
- TypeConversion/JavaConverter (A9/A10)             → Arrow RecordBatches both ways
- DynamoBatchWriter (A11 put) / update (A12) /      → DynamoWriter modes
  delete (A13)

Deliberate deviations from the reference:
- A write is one commit: executors stage files, the driver merges them
  with the store and rewrites it. A write that fails before commit()
  changes nothing (the reference's BatchWriteItem is at-least-once
  with no rollback, SURVEY §3 entry point 2). The rewrite itself is
  not atomic: each directory (the base data, then every GSI) is
  replaced on its own with rmtree + rename, so a concurrent reader can
  see a new base with an old GSI, or miss files mid-swap, and two
  concurrent writers can lose one of their updates.
- GSIs are rewritten by the same commit, right after the base;
  DynamoDB replicates them asynchronously.

Scale story: locally the "table" is a parquet/jsonl segment directory;
in production the same reader shape points each InputPartition at a
DynamoDB scan segment (Segment=i, TotalSegments=N) and the writer's
per-partition buffers become 25-item BatchWriteItem calls. The
driver-side merge in commit() exists only for the local materialized
store — a network KV sink has no such step.

Read options (reference names preserved, SURVEY §2 Part A):
  tableName (required), storeDir, indexName, readPartitions,
  targetCapacity (1.0), stronglyConsistentReads (no-op shim),
  bytesPerRCU (4000), filterPushdown (true), throughput (100 —
  on-demand default), columns (projection: comma-separated),
  region/roleArn (no-op shims).
Write options: writeBatchSize (25), targetCapacity, update, delete, putIfAbsent,
versionedUpdate (+versionColumn), transactPutIfAbsent (all-or-nothing),
  throughput, bytesPerWCU (1000).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterable, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    SimpleDataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from spark_dynamodb_spark.sources import keyed_store
from spark_dynamodb_spark.sources.rate_limiter import (
    BYTES_PER_RCU,
    BYTES_PER_WCU,
    TokenBucket,
    partition_rate,
)

if TYPE_CHECKING:
    import pyarrow as pa

SAMPLE_ROWS = 1000  # ~1 page, mirrors the reference's 1 MB sample scan (A3)


def _opt(options, key: str, default=None):
    # Spark lowercases datasource option keys.
    return options.get(key.lower(), default)


def _bool_opt(options, key: str, default: bool) -> bool:
    v = _opt(options, key)
    if v is None:
        return default
    return str(v).lower() in ("true", "1", "yes")


# ---------------------------------------------------------------------------
# Schema inference by sampling (A3)
# ---------------------------------------------------------------------------

def _infer_json_type(v):
    if isinstance(v, bool):
        return BooleanType()
    if isinstance(v, int):
        return LongType()
    if isinstance(v, float):
        return DoubleType()
    if isinstance(v, str):
        return StringType()
    if isinstance(v, list):
        elem = None
        for x in v:
            t = _infer_json_type(x)
            if t is not None:
                elem = _merge_types(elem, t)
        return ArrayType(elem or StringType())
    if isinstance(v, dict):
        vt = None
        for x in v.values():
            t = _infer_json_type(x)
            if t is not None:
                vt = _merge_types(vt, t)
        return MapType(StringType(), vt or StringType())
    return None  # null → unknown


def _merge_types(a, b):
    """Union two observed attribute types (absent/None yields the other).

    Numeric widening long→double mirrors DynamoDB's single arbitrary-
    precision N type being inferred as the widest observed (SURVEY §1.2).
    Irreconcilable types degrade to string, like a JSON re-read would.
    """
    if a is None:
        return b
    if b is None or a == b:
        return a
    if {type(a), type(b)} == {LongType, DoubleType}:
        return DoubleType()
    if isinstance(a, ArrayType) and isinstance(b, ArrayType):
        return ArrayType(_merge_types(a.elementType, b.elementType))
    if isinstance(a, MapType) and isinstance(b, MapType):
        return MapType(StringType(), _merge_types(a.valueType, b.valueType))
    return StringType()


def _infer_schema_jsonl(segments: list[str], hash_key: str, range_key: str | None) -> StructType:
    fields: dict[str, object] = {}
    order: list[str] = []
    seen = 0
    for seg in segments:
        with open(seg) as f:
            for line in f:
                if seen >= SAMPLE_ROWS:
                    break
                doc = json.loads(line)
                for k, v in doc.items():
                    t = _infer_json_type(v)
                    if k not in fields:
                        order.append(k)
                        fields[k] = t
                    else:
                        fields[k] = _merge_types(fields[k], t)
                seen += 1
        if seen >= SAMPLE_ROWS:
            break
    keys = {hash_key, range_key} if range_key else {hash_key}
    return StructType(
        [
            StructField(k, fields[k] or StringType(), nullable=k not in keys)
            for k in order
        ]
    )


def _infer_schema_parquet(segments: list[str], hash_key: str, range_key: str | None) -> StructType:
    from pyspark.sql.pandas.types import from_arrow_schema
    import pyarrow.parquet as pq

    arrow_schema = pq.read_schema(segments[0])
    st = from_arrow_schema(arrow_schema)
    keys = {hash_key, range_key} if range_key else {hash_key}
    return StructType(
        [StructField(f.name, f.dataType, nullable=f.name not in keys) for f in st.fields]
    )


# ---------------------------------------------------------------------------
# Filter translation (A7) — exactly the reference's translatable set
# ---------------------------------------------------------------------------

def _to_arrow_expr(f: Filter):
    """Translate one Spark filter to a pyarrow dataset expression.

    Returns None when untranslatable — the reference's FilterPushdown
    rejects the same set (StringEndsWith, nested fields, expression
    comparisons → SURVEY §4.1) and Spark re-evaluates them post-scan.
    """
    import pyarrow.compute as pc

    def col(attr):
        if len(attr) != 1:  # nested attribute → not translatable
            return None
        return pc.field(attr[0])

    if isinstance(f, EqualTo):
        c = col(f.attribute)
        return None if c is None else c == f.value
    if isinstance(f, GreaterThan):
        c = col(f.attribute)
        return None if c is None else c > f.value
    if isinstance(f, GreaterThanOrEqual):
        c = col(f.attribute)
        return None if c is None else c >= f.value
    if isinstance(f, LessThan):
        c = col(f.attribute)
        return None if c is None else c < f.value
    if isinstance(f, LessThanOrEqual):
        c = col(f.attribute)
        return None if c is None else c <= f.value
    if isinstance(f, In):
        c = col(f.attribute)
        return None if c is None else c.isin(list(f.value))
    if isinstance(f, IsNull):
        c = col(f.attribute)
        return None if c is None else c.is_null()
    if isinstance(f, IsNotNull):
        c = col(f.attribute)
        return None if c is None else ~c.is_null()
    if isinstance(f, StringStartsWith):
        c = col(f.attribute)
        return None if c is None else pc.starts_with(c, f.value)
    if isinstance(f, StringContains):
        c = col(f.attribute)
        return None if c is None else pc.match_substring(c, f.value)
    if isinstance(f, Not):
        child = _to_arrow_expr(f.child)
        return None if child is None else ~child
    return None  # StringEndsWith, EqualNullSafe, anything else


def _eval_doc(f: Filter, doc: dict):
    """Evaluate a pushed filter against a jsonl document with SQL
    three-valued logic: returns True / False / None (UNKNOWN).

    A missing attribute (or a comparison against NULL) is UNKNOWN, and
    crucially ``Not(UNKNOWN)`` stays UNKNOWN — so ``NOT(x = v)`` over a
    document lacking ``x`` does NOT match, mirroring how Spark drops
    NULL comparisons and how the Arrow expression path behaves. The
    previous two-valued version returned rows it should exclude
    (ADVICE r1: pushed filters are not re-evaluated by Spark).
    """

    def v(attr):
        return doc.get(attr[0]) if len(attr) == 1 else None

    try:
        if isinstance(f, Not):
            child = _eval_doc(f.child, doc)
            return None if child is None else not child
        if isinstance(f, IsNull):
            return v(f.attribute) is None
        if isinstance(f, IsNotNull):
            return v(f.attribute) is not None
        x = v(f.attribute)
        if x is None or getattr(f, "value", None) is None:
            return None  # NULL comparison → UNKNOWN
        if isinstance(f, EqualTo):
            return x == f.value
        if isinstance(f, GreaterThan):
            return x > f.value
        if isinstance(f, GreaterThanOrEqual):
            return x >= f.value
        if isinstance(f, LessThan):
            return x < f.value
        if isinstance(f, LessThanOrEqual):
            return x <= f.value
        if isinstance(f, In):
            return x in f.value
        if isinstance(f, StringStartsWith):
            return x.startswith(f.value) if isinstance(x, str) else None
        if isinstance(f, StringContains):
            return f.value in x if isinstance(x, str) else None
    except TypeError:
        return None  # cross-type comparison in a schemaless doc → UNKNOWN
    # Fail CLOSED on filter types this evaluator does not handle: a
    # pushed filter is never re-evaluated by Spark, so a permissive
    # default would silently return unfiltered rows the moment
    # _to_arrow_expr learns a new filter type that this function does
    # not (the exact bug class the three-valued rewrite fixed).
    raise ValueError(
        f"_eval_doc: unhandled pushed filter {type(f).__name__} — "
        "extend _eval_doc alongside _to_arrow_expr"
    )


def _matches_doc(f: Filter, doc: dict) -> bool:
    """A pushed filter keeps a row only when it evaluates to TRUE
    (UNKNOWN is excluded, like a SQL WHERE clause)."""
    return _eval_doc(f, doc) is True


# ---------------------------------------------------------------------------
# Reader (A4/A5/A6/A7/A8)
# ---------------------------------------------------------------------------

def scan_segment(idx: int, total: int, files: list[str], rate: float) -> InputPartition:
    """One scan segment: Segment=idx, TotalSegments=total (A4).
    rate = capacity units/sec for this partition; 0 = unlimited."""
    return InputPartition({"idx": idx, "total": total, "files": files, "rate": rate})


class DynamoReader(DataSourceReader):
    def __init__(self, schema: StructType, options) -> None:
        self.schema_ = schema
        self.options = options
        self.table = _opt(options, "tableName")
        if not self.table:
            raise ValueError("dynamo source requires option('tableName', ...)")
        self.store_dir = _opt(options, "storeDir", keyed_store.DEFAULT_STORE_DIR)
        self.index_name = _opt(options, "indexName")
        self.meta = keyed_store.read_meta(self.store_dir, self.table)
        self.fmt = self.meta.get("format", "parquet")
        self.pushed: list[Filter] = []
        self.filter_pushdown = _bool_opt(options, "filterPushdown", True)

    # -- pushdown negotiation (mirrors DynamoScanBuilder.pushFilters) --
    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:  # noqa: F821
        if not self.filter_pushdown:
            yield from filters
            return
        for f in filters:
            if _to_arrow_expr(f) is not None:
                self.pushed.append(f)
            else:
                yield f  # post-scan residual, Spark re-evaluates

    def partitions(self) -> list[InputPartition]:
        files = keyed_store.list_segments(self.store_dir, self.table, self.index_name)
        if not files:
            return [scan_segment(0, 1, [], 0.0)]
        n_opt = _opt(options=self.options, key="readPartitions")
        if n_opt is not None:
            n = max(1, int(n_opt))
        else:
            # segments = f(table bytes / target partition size), like
            # TableConnector computes TotalSegments from table size.
            total_bytes = sum(os.path.getsize(f) for f in files)
            target = 128 * 1024 * 1024
            n = min(len(files), max(1, -(-total_bytes // target)))
            n = max(n, min(len(files), 8))
        n = min(n, len(files))
        provisioned = float(self.meta.get("rcu") or 0.0)
        if provisioned <= 0:  # on-demand → 'throughput' option, default 100
            provisioned = float(_opt(self.options, "throughput", 0) or 0)
        target_cap = float(_opt(self.options, "targetCapacity", 1.0))
        rate = partition_rate(target_cap, provisioned, n) if provisioned > 0 else 0.0
        return [
            scan_segment(i, n, files[i::n], rate) for i in range(n)
        ]

    @property
    def _rcu_factor(self) -> float:
        """DynamoDB pricing: a strongly consistent read consumes twice
        the capacity of the default eventually consistent read (one
        RCU per 4 KB vs per 8 KB). Results are identical either way
        (the local store has no replication lag to observe) — only
        the token-bucket accounting changes, mirroring the
        reference's consistentRead throughput math (A8/A16)."""
        return (
            2.0
            if _bool_opt(self.options, "stronglyConsistentReads", False)
            else 1.0
        )

    def read(self, partition: InputPartition) -> Iterator["pa.RecordBatch"]:
        seg = partition.value
        if self.fmt == "jsonl":
            yield from self._read_jsonl(seg)
            return
        import pyarrow.dataset as pds

        if not seg["files"]:
            return
        bytes_per_rcu = float(_opt(self.options, "bytesPerRCU", BYTES_PER_RCU))
        bucket = TokenBucket(seg["rate"])
        expr = None
        for f in self.pushed:
            e = _to_arrow_expr(f)
            expr = e if expr is None else (expr & e)
        cols = [f.name for f in self.schema_.fields]
        dset = pds.dataset(seg["files"], format="parquet")
        # Every writer stores timestamps as micros, the unit Spark's
        # Arrow ingestion takes, so batches go to Spark as read.
        for batch in dset.to_batches(columns=cols, filter=expr):
            if batch.num_rows == 0:
                continue
            # Consumed capacity ≈ bytes scanned / bytesPerRCU (A8). Like
            # DynamoDB, a server-side filter reduces transfer, not RCU —
            # we account the unfiltered batch size upstream of the filter
            # only approximately via nbytes of the returned batch.
            bucket.acquire(batch.nbytes * self._rcu_factor / bytes_per_rcu)
            yield batch

    def _read_jsonl(self, seg: dict) -> Iterator[tuple]:
        """Schemaless document scan: item-at-a-time conversion to the
        fixed query schema (TypeConversion.scala, A9): missing
        attribute → null, type mismatch → null-on-error."""
        bytes_per_rcu = float(_opt(self.options, "bytesPerRCU", BYTES_PER_RCU))
        bucket = TokenBucket(seg["rate"])
        names = [f.name for f in self.schema_.fields]
        for path in seg["files"]:
            with open(path) as fh:
                for line in fh:
                    bucket.acquire(
                        len(line) * self._rcu_factor / bytes_per_rcu
                    )
                    doc = json.loads(line)
                    if self.pushed and not all(
                        _matches_doc(f, doc) for f in self.pushed
                    ):
                        continue
                    yield tuple(_coerce(doc.get(n), self.schema_[n].dataType) for n in names)


def _coerce(v, dt):
    if v is None:
        return None
    try:
        if isinstance(dt, LongType):
            return int(v)
        if isinstance(dt, DoubleType):
            return float(v)
        if isinstance(dt, StringType):
            return v if isinstance(v, str) else json.dumps(v)
        if isinstance(dt, BooleanType):
            return bool(v)
        if isinstance(dt, ArrayType):
            return [_coerce(x, dt.elementType) for x in v] if isinstance(v, list) else None
        if isinstance(dt, MapType):
            return (
                {str(k): _coerce(x, dt.valueType) for k, x in v.items()}
                if isinstance(v, dict)
                else None
            )
    except (TypeError, ValueError):
        return None
    return v


# ---------------------------------------------------------------------------
# Writer (A10/A11/A12/A13)
# ---------------------------------------------------------------------------

class TransactionCanceledException(RuntimeError):
    """All-or-nothing transactional batch rejected (A24) — mirrors
    DynamoDB's TransactionCanceledException."""


@dataclass
class StagedFile(WriterCommitMessage):
    path: str
    rows: int


# -- the commit merge: one Arrow pipeline for every write mode --
#
# Which rows survive is decided on narrow tables that hold only the key
# columns and a row ordinal (pyarrow's join rejects list and map payload
# columns); whole rows are then gathered with Table.take. No value
# leaves Arrow, so int64 above 2^53, NaN and nested payloads are
# written back exactly as they were read.

def _conform(t: "pa.Table", schema: "pa.Schema") -> "pa.Table":
    """Safe-cast ``t`` to ``schema``; columns it lacks become nulls."""
    import pyarrow as pa

    return pa.Table.from_arrays(
        [
            t[f.name].cast(f.type) if f.name in t.column_names
            else pa.nulls(t.num_rows, f.type)
            for f in schema
        ],
        schema=schema,
    )


def _with_row(t: "pa.Table", cols: list[str], name: str) -> "pa.Table":
    """``cols`` of ``t`` plus its row ordinal as column ``name``."""
    import numpy as np
    import pyarrow as pa

    return t.select(cols).append_column(name, pa.array(np.arange(t.num_rows)))


def _pick(t: "pa.Table", key_cols: list[str], how: str, name: str) -> "pa.Table":
    """Per key, the first (``how="min"``) or last (``"max"``) row of
    ``t``: the key columns plus that row's ordinal as ``name``."""
    import pyarrow as pa

    out = _with_row(t, key_cols, name).group_by(key_cols, use_threads=False).aggregate(
        [(name, how)]
    )
    return pa.table({**{k: out[k] for k in key_cols}, name: out[f"{name}_{how}"]})


def _update(base: "pa.Table", staged: "pa.Table", key_cols: list[str]) -> "pa.Table":
    """UpdateItem SET semantics (A12): per key, the last staged row's
    non-null attributes override the item's, null attributes keep it;
    new keys insert. Only null means absent — a staged NaN is a value."""
    import pyarrow as pa
    import pyarrow.compute as pc

    j = _pick(base, key_cols, "max", "_b").join(
        _pick(staged, key_cols, "max", "_s"), key_cols,
        join_type="full outer", use_threads=False,
    )
    b, s = base.take(j["_b"]), staged.take(j["_s"])
    return pa.Table.from_arrays(
        [pc.coalesce(s[c], b[c]) for c in base.column_names], schema=base.schema
    )


def merge(
    base: "pa.Table | None",
    staged: "pa.Table",
    key_cols: list[str],
    mode: str,
    version_col: str = "version",
) -> "pa.Table":
    """The table a commit writes: ``staged`` merged into ``base`` (None
    when the table has no files or is overwritten) under one write mode.

    - put: whole-item replace, the last staged row per key wins (A11).
    - put_if_absent: staged items insert only where the key is absent;
      existing items are untouched — DynamoDB's attribute_not_exists
      with skip-on-conflict batch semantics (A19).
    - transact_put_if_absent: if ANY staged key exists the whole batch
      raises TransactionCanceledException before anything is written
      (A24); otherwise a put.
    - update: SET semantics, see ``_update`` (A12).
    - versioned_update: optimistic locking (A23). A staged row carries
      the version it EXPECTS the item to have; rows whose expectation is
      stale or whose key is absent are skipped, winners apply as an
      update and bump the version by one.
    - delete: the items whose key is staged are removed (A13); only the
      key columns of ``staged`` are read.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if base is None:
        base = staged.schema.empty_table()
    # One column order for every mode: base columns in base order, then
    # staged-only columns in staged order (a delete writes none). Every
    # field is nullable, since an item may lack any attribute.
    fields = list(base.schema)
    if mode != "delete":
        fields += [f for f in staged.schema if f.name not in base.column_names]
    schema = pa.schema([f.with_nullable(True) for f in fields])
    base = _conform(base, schema)
    if mode == "delete":
        keys = _conform(staged, pa.schema([schema.field(k) for k in key_cols]))
        keep = _with_row(base, key_cols, "_b").join(
            keys, key_cols, join_type="left anti", use_threads=False
        )["_b"]
        return base.take(np.sort(keep.to_numpy()))
    if mode == "versioned_update" and version_col not in staged.column_names:
        return base
    staged = _conform(staged, schema)
    if mode == "versioned_update":
        ok = _with_row(staged, key_cols + [version_col], "_s").join(
            base.select(key_cols + [version_col]), key_cols + [version_col],
            join_type="left semi", use_threads=False,
        )["_s"]
        staged = staged.take(np.sort(ok.to_numpy()))
        i = schema.get_field_index(version_col)
        bumped = pc.add(staged[version_col], pa.scalar(1, schema.field(i).type))
        return _update(base, staged.set_column(i, schema.field(i), bumped), key_cols)
    if mode == "update":
        return _update(base, staged, key_cols)
    if mode == "transact_put_if_absent":
        hits = staged.select(key_cols).join(
            base.select(key_cols), key_cols, join_type="left semi", use_threads=False
        ).num_rows
        if hits:
            raise TransactionCanceledException(
                f"{hits} staged key(s) already exist "
                f"(ConditionalCheckFailed inside a transaction): batch rejected"
            )
    both = pa.concat_tables([base, staged])
    how = "min" if mode == "put_if_absent" else "max"
    return both.take(_pick(both, key_cols, how, "_row")["_row"])


def _segment_ids(col: "pa.ChunkedArray", n_segments: int):
    """The segment file of every value of a partition-key column:
    pandas' hash of the column as pandas holds it, the placement every
    commit has used, so a key stays in the file it is already in."""
    import pandas as pd

    return pd.util.hash_pandas_object(col.to_pandas(), index=False).to_numpy() % n_segments


def _as_set(col: "pa.ChunkedArray"):
    """DynamoDB set types (SS/NS/BS) are unique on write (SURVEY §1.2):
    each list of a declared set column is deduped and sorted."""
    import pyarrow as pa

    if not pa.types.is_list(col.type):
        return col
    return pa.array(
        [v if v is None else sorted(set(v)) for v in col.to_pylist()], col.type
    )


class DynamoWriter(DataSourceWriter):
    """Batch writer with put/update/delete modes.

    Executors stage Arrow/parquet batches (rate-limited on WCU in
    writeBatchSize chunks, mirroring 25-item BatchWriteItem); commit()
    merges the staged items into the keyed store on the driver and
    rewrites it — see the module docstring for what a reader can see
    while that rewrite runs, and for the production mapping.
    """

    def __init__(self, schema: StructType, options, overwrite: bool) -> None:
        self.schema_ = schema
        self.options = options
        self.overwrite = overwrite
        self.table = _opt(options, "tableName")
        if not self.table:
            raise ValueError("dynamo sink requires option('tableName', ...)")
        self.store_dir = _opt(options, "storeDir", keyed_store.DEFAULT_STORE_DIR)
        self.meta = keyed_store.read_meta(self.store_dir, self.table)
        self.mode = (
            "delete"
            if _bool_opt(options, "delete", False)
            else "versioned_update"
            if _bool_opt(options, "versionedUpdate", False)
            else "update"
            if _bool_opt(options, "update", False)
            else "transact_put_if_absent"
            if _bool_opt(options, "transactPutIfAbsent", False)
            else "put_if_absent"
            if _bool_opt(options, "putIfAbsent", False)
            else "put"
        )
        self.staging = os.path.join(self.store_dir, self.table, ".staged")
        self.batch_size = int(_opt(options, "writeBatchSize", 25))
        provisioned = float(self.meta.get("wcu") or 0.0)
        if provisioned <= 0:
            provisioned = float(_opt(options, "throughput", 0) or 0)
        self.rate = partition_rate(
            float(_opt(options, "targetCapacity", 1.0)), provisioned, 8
        ) if provisioned > 0 else 0.0

    def write(self, iterator: Iterator) -> StagedFile:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        os.makedirs(self.staging, exist_ok=True)
        arrow_schema = to_arrow_schema(self.schema_)
        bytes_per_wcu = float(_opt(self.options, "bytesPerWCU", BYTES_PER_WCU))
        bucket = TokenBucket(self.rate)
        names = [f.name for f in self.schema_.fields]
        rows, n = [], 0
        batches = []
        for row in iterator:
            rows.append({k: row[i] for i, k in enumerate(names)})
            n += 1
            if len(rows) >= self.batch_size:
                # One BatchWriteItem of `writeBatchSize` items (A11):
                # consume WCU for the batch, then flush.
                batch = pa.RecordBatch.from_pylist(rows, schema=arrow_schema)
                bucket.acquire(max(batch.nbytes / bytes_per_wcu, len(rows)))
                batches.append(batch)
                rows = []
        if rows:
            batch = pa.RecordBatch.from_pylist(rows, schema=arrow_schema)
            bucket.acquire(max(batch.nbytes / bytes_per_wcu, len(rows)))
            batches.append(batch)
        path = os.path.join(self.staging, f"stage-{uuid.uuid4().hex}.parquet")
        table = (
            pa.Table.from_batches(batches)
            if batches
            else pa.Table.from_pylist([], schema=arrow_schema)
        )
        pq.write_table(table, path)
        return StagedFile(path=path, rows=n)

    # -- driver-side merge --
    def commit(self, messages: list[StagedFile]) -> None:
        import pyarrow.dataset as pds
        from pyspark.sql.pandas.types import to_arrow_schema

        key_cols = [self.meta["hash_key"]] + (
            [self.meta["range_key"]] if self.meta.get("range_key") else []
        )
        staged_paths = [m.path for m in messages if m]
        staged = pds.dataset(
            staged_paths, format="parquet", schema=to_arrow_schema(self.schema_)
        ).to_table()
        for col in self.meta.get("set_columns", []):
            if col in staged.column_names:
                i = staged.schema.get_field_index(col)
                staged = staged.set_column(i, col, _as_set(staged[col]))
        base_files = (
            [] if self.overwrite
            else keyed_store.list_segments(self.store_dir, self.table)
        )
        base = pds.dataset(base_files, format="parquet").to_table() if base_files else None
        merged = merge(
            base, staged, key_cols, self.mode,
            _opt(self.options, "versionColumn", "version"),
        )
        self._rewrite(merged, key_cols)
        self._cleanup(staged_paths)

    def abort(self, messages: list[StagedFile]) -> None:
        self._cleanup([m.path for m in messages if m])

    def _cleanup(self, paths: list[str]) -> None:
        import shutil

        for p in paths:
            if p and os.path.exists(p):
                os.remove(p)
        if os.path.isdir(self.staging) and not os.listdir(self.staging):
            shutil.rmtree(self.staging, ignore_errors=True)

    def _rewrite(self, merged: "pa.Table", key_cols: list[str]) -> None:
        """Replace the data directory, then each GSI directory, with the
        merged table. Each directory is swapped by rmtree + rename on
        its own, so the base and its GSIs are not replaced together."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        import shutil

        n_seg = int(self.meta.get("n_segments", 8))

        def write_dir(out: str, part_key: str, sort_keys: list[str]) -> None:
            tmp = out + ".tmp-" + uuid.uuid4().hex[:8]
            os.makedirs(tmp, exist_ok=True)
            if merged.num_rows == 0:
                pq.write_table(merged, os.path.join(tmp, "part-00000.parquet"))
            else:
                seg = _segment_ids(merged[part_key], n_seg)
                order = merged.select(sort_keys).append_column("_seg", pa.array(seg))
                rows = merged.take(pc.sort_indices(
                    order, [("_seg", "ascending")] + [(k, "ascending") for k in sort_keys]
                ))
                start = 0
                for i, n in enumerate(np.bincount(seg.astype(np.int64), minlength=n_seg)):
                    if n:
                        pq.write_table(
                            rows.slice(start, n), os.path.join(tmp, f"part-{i:05d}.parquet")
                        )
                        start += n
            if os.path.isdir(out):
                shutil.rmtree(out)
            os.rename(tmp, out)

        write_dir(
            keyed_store.data_dir(self.store_dir, self.table),
            self.meta["hash_key"],
            key_cols,
        )
        for gsi in self.meta.get("gsis", []):
            gsi_keys = [gsi["hash_key"]] + (
                [gsi["range_key"]] if gsi.get("range_key") else []
            )
            write_dir(
                keyed_store.data_dir(self.store_dir, self.table, gsi["name"]),
                gsi["hash_key"],
                gsi_keys,
            )


# ---------------------------------------------------------------------------
# The DataSource (A1/A2)
# ---------------------------------------------------------------------------

class DynamoDataSource(DataSource):
    """``spark.read.format("dynamo").option("tableName", t)`` over a
    keyed document store (SURVEY §7 M2)."""

    @classmethod
    def name(cls) -> str:
        return "dynamo"

    def schema(self) -> StructType:
        # User-supplied schema wins (A14 typed read → explicit schema);
        # otherwise infer by sampling (A3).
        table = _opt(self.options, "tableName")
        if not table:
            raise ValueError("dynamo source requires option('tableName', ...)")
        store_dir = _opt(self.options, "storeDir", keyed_store.DEFAULT_STORE_DIR)
        index_name = _opt(self.options, "indexName")
        meta = keyed_store.read_meta(store_dir, table)
        segments = keyed_store.list_segments(store_dir, table, index_name)
        if not segments:
            raise ValueError(f"dynamo table '{table}' has no data segments")
        if meta.get("format") == "jsonl":
            schema = _infer_schema_jsonl(segments, meta["hash_key"], meta.get("range_key"))
        else:
            schema = _infer_schema_parquet(segments, meta["hash_key"], meta.get("range_key"))
        cols = _opt(self.options, "columns")
        if cols:  # projection pushdown via option (A6; Python DS has no prune hook)
            want = [c.strip() for c in cols.split(",")]
            schema = StructType([schema[c] for c in want])
        return schema

    def reader(self, schema: StructType) -> DynamoReader:
        return DynamoReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DynamoWriter:
        return DynamoWriter(schema, self.options, overwrite)

    def simpleStreamReader(self, schema: StructType) -> "DynamoSimpleStreamReader":
        return DynamoSimpleStreamReader(schema, self.options)

    def streamWriter(self, schema: StructType, overwrite: bool) -> "DynamoStreamWriter":
        return DynamoStreamWriter(schema, self.options, overwrite)


def _ship_package(spark) -> None:
    """Make the package importable by executor Python workers.

    The DataSource class is pickled by reference; workers spawned by a
    session whose driver imported us by file path (the spark-graft
    driver does) have no sys.path entry for the repo. addPyFile
    distributes a zip of the package to every worker — the same
    mechanism that ships application eggs on a real cluster.
    """
    if getattr(spark, "_dynamo_pkg_shipped", False):
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), "spark_dynamodb_spark_pkg.zip"
    )
    tmp_zip = zip_path + "." + uuid.uuid4().hex[:8]
    with zipfile.ZipFile(tmp_zip, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(root, fname)
                    rel = os.path.join(
                        "spark_dynamodb_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    os.replace(tmp_zip, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    spark._dynamo_pkg_shipped = True


def register(spark, force: bool = False) -> None:
    """Idempotently register the 'dynamo' source on a session.

    ``force=True`` re-registers even when this session already has the
    source — needed ONLY after monkeypatching module internals (the
    registered class graph is pickled by value at registration time,
    so a later setattr on the module is invisible to executors
    otherwise); the pruning tests use it.

    Two shipping mechanisms, because Spark runs our pickled classes in
    two different kinds of Python process:
    - executor workers (batch read/write tasks): addPyFile zip
      (_ship_package) puts the package on their sys.path;
    - the STREAMING source/sink runners (driver-side helper processes
      for simpleStreamReader/streamWriter planning): these do NOT see
      pyFiles, so the class graph must be self-contained —
      register_pickle_by_value makes cloudpickle serialize our
      modules by value instead of by import reference (found by the
      out-of-repo driver simulation: ModuleNotFoundError inside
      PythonStreamingSourceRunner).
    """
    _ship_package(spark)
    # Truly idempotent per session (round 15): every registration
    # pickles the three modules BY VALUE and ships them over py4j, and
    # the dynamo-heavy entries call read/write_dynamo ten-plus times a
    # run — re-registering each call burned measurable driver time and
    # spammed "replaced a previously registered data source" warnings.
    if getattr(spark, "_dynamo_source_registered", False) and not force:
        return
    from pyspark import cloudpickle

    import spark_dynamodb_spark.sources.dynamo as _self
    import spark_dynamodb_spark.sources.keyed_store as _ks
    import spark_dynamodb_spark.sources.rate_limiter as _rl

    for m in (_self, _ks, _rl):
        cloudpickle.register_pickle_by_value(m)
    spark.dataSource.register(DynamoDataSource)
    spark._dynamo_source_registered = True


# ---------------------------------------------------------------------------
# Streaming reader — the DynamoDB Streams analog (round 4)
# ---------------------------------------------------------------------------
#
# The reference explicitly does NOT support DynamoDB Streams (SURVEY
# §1.1); this is the Spark-first extension: the keyed store's segment
# files stand in for stream shards, and each micro-batch consumes one
# segment (≙ one GetRecords page per shard iterator). Offsets are
# {"files_done": n} over the SORTED segment list — deterministic,
# replayable, and exactly-once under Spark's offset log, which is
# precisely the contract a real Streams adapter would expose.


class DynamoSimpleStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, schema: StructType, options) -> None:
        self.schema_ = schema
        self.table = _opt(options, "tableName")
        if not self.table:
            raise ValueError("dynamo stream requires option('tableName', ...)")
        self.store_dir = _opt(options, "storeDir", keyed_store.DEFAULT_STORE_DIR)

    def initialOffset(self) -> dict:
        return {"files_done": 0}

    def _segments(self) -> list[str]:
        return keyed_store.list_segments(self.store_dir, self.table)

    def _rows_of(self, path: str) -> list:
        # a LIST, not a generator: Spark pickles the read() result to
        # ship it from the driver-side prefetcher to executors
        import pyarrow.parquet as pq

        names = [f.name for f in self.schema_.fields]
        tbl = pq.read_table(path, columns=names)
        out = []
        for batch in tbl.to_batches():
            cols = [batch.column(i).to_pylist() for i in range(batch.num_columns)]
            out.extend(zip(*cols))
        return out

    def read(self, start: dict):
        done = int(start.get("files_done", 0))
        segs = self._segments()
        if done >= len(segs):
            return iter([]), start  # caught up — empty batch, same offset
        # one segment per micro-batch (≙ one shard page). iter(list),
        # not a generator: the prefetcher both next()s and pickles it,
        # and list iterators are the one shape that survives both.
        return iter(self._rows_of(segs[done])), {"files_done": done + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        # replay path (recovery): re-read the exact segment span
        segs = self._segments()
        lo, hi = int(start.get("files_done", 0)), int(end.get("files_done", 0))
        out = []
        for p in segs[lo:hi]:
            out.extend(self._rows_of(p))
        return iter(out)

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up — segments are immutable


class DynamoStreamWriter(DataSourceStreamWriter):
    """Streaming SINK (``writeStream.format("dynamo")``) — every
    micro-batch runs the same staged-write + driver-merge commit as
    the batch writer (put replaces whole items, ``update``/``delete``
    options select the other merge modes). Idempotent under batch
    retries for put/update: re-merging the same keyed items is a
    no-op, which is the property a KV sink needs for effectively-once
    output from an at-least-once engine. s05's foreachBatch upsert is
    the user-space spelling; this is the first-class sink.
    """

    def __init__(self, schema: StructType, options, overwrite: bool) -> None:
        self.schema_ = schema
        self.options = options
        self.overwrite = overwrite

    def _delegate(self) -> DynamoWriter:
        return DynamoWriter(self.schema_, self.options, self.overwrite)

    def write(self, iterator) -> "StagedFile":
        return self._delegate().write(iterator)

    def commit(self, messages, batchId: int) -> None:
        self._delegate().commit(list(messages))

    def abort(self, messages, batchId: int) -> None:
        self._delegate().abort(list(messages))
