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
- TypeConversion/JavaConverter (A9/A10)             → Arrow both ways: reads yield
                                                      RecordBatches; write_dynamo
                                                      collects df.toArrow(), and
                                                      df.write.format / the stream
                                                      sink hand each task's Arrow
                                                      batches to commit()
- DynamoBatchWriter (A11 put) / update (A12) /      → DynamoWriter modes
  delete (A13)

Deliberate deviations from the reference:
- A write is one commit: the driver merges the batch with the store
  and rewrites it. ``write_dynamo`` collects the batch with one
  ``df.toArrow()`` (bounded by ``spark.driver.maxResultSize``) and
  calls commit_table(); ``df.write.format("dynamo")`` and the stream
  sink go through Spark's DataSource write: each task returns its Arrow
  batches in its commit message, and a commit runner merges them in
  commit(), so they too are bounded by ``spark.driver.maxResultSize``.
  Both drive the same DynamoWriter. A write that fails before its merge
  changes nothing (the reference's BatchWriteItem is at-least-once
  with no rollback, SURVEY §3 entry point 2). ``keyed_store.publish``
  replaces the base, every GSI and the meta by one rename (its module
  docstring says what that does not yet guard).
- GSIs are replaced by the same commit as the base; DynamoDB
  replicates them asynchronously.

Scale story: locally the "table" is a parquet segment directory;
in production the same reader shape points each InputPartition at a
DynamoDB scan segment (Segment=i, TotalSegments=N) and the writer's
per-partition buffers become 25-item BatchWriteItem calls. The
driver-side merge in commit() exists only for the local materialized
store — a network KV sink has no such step.

Read options (reference names preserved, SURVEY §2 Part A):
  tableName (required), storeDir, indexName, readPartitions,
  targetCapacity (1.0), stronglyConsistentReads (no-op shim),
  bytesPerRCU (4000), filterPushdown (true), throughput (0 =
  unthrottled; the budget of an on-demand table), columns (projection:
  comma-separated), region/roleArn (no-op shims).
  Without readPartitions, a read whose pushed filters name the hash key
  (EqualTo or In: GetItem, Query, BatchGetItem) is one segment, like the
  reference's one keyed request; a scan is sized from the table bytes.
Write options: writeBatchSize (25), targetCapacity, update, delete, putIfAbsent,
versionedUpdate (+versionColumn), transactPutIfAbsent (all-or-nothing),
  throughput, bytesPerWCU (1000).
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterable, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
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
from pyspark.sql.types import StructField, StructType

from spark_dynamodb_spark.sources import keyed_store
from spark_dynamodb_spark.sources.rate_limiter import (
    BYTES_PER_RCU,
    BYTES_PER_WCU,
    TokenBucket,
    partition_rate,
)

if TYPE_CHECKING:
    import pyarrow as pa


def _opt(options, key: str, default=None):
    # Spark lowercases datasource option keys.
    return options.get(key.lower(), default)


def _bool_opt(options, key: str, default: bool) -> bool:
    v = _opt(options, key)
    if v is None:
        return default
    return str(v).lower() in ("true", "1", "yes")


# ---------------------------------------------------------------------------
# Filter translation (A7) — exactly the reference's translatable set
# ---------------------------------------------------------------------------

def _to_arrow_expr(f: Filter):
    """Translate one Spark filter to a pyarrow dataset expression.

    Returns None when untranslatable — the reference's FilterPushdown
    rejects the same set (StringEndsWith, nested fields, expression
    comparisons → SURVEY §4.1) and Spark re-evaluates them post-scan.
    A pushed filter is never re-evaluated, so the expression must give
    Spark's answer under three-valued logic, or the filter stays
    residual: an In whose values hold a null (Arrow's is_in matches
    null to null) and a comparison with a NaN literal (Spark makes
    NaN = NaN). Spark also orders NaN above every other float, so > and
    >= with a float keep the NaN rows, which IEEE comparison drops.
    """
    import math

    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(f, Not):
        child = _to_arrow_expr(f.child)
        return None if child is None else ~child
    if len(f.attribute) != 1:  # nested attribute → not translatable
        return None
    c, v = pc.field(f.attribute[0]), getattr(f, "value", None)
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(f, EqualTo):
        return c == v
    if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
        cmp = c > v if isinstance(f, GreaterThan) else c >= v
        return (cmp | pc.is_nan(c)) if isinstance(v, float) else cmp
    if isinstance(f, LessThan):
        return c < v
    if isinstance(f, LessThanOrEqual):
        return c <= v
    if isinstance(f, In):
        if None in v:
            return None
        # Spark's In matches -0.0 to 0.0, Arrow's hashed is_in does not;
        # is_in answers false for a null input, where SQL answers null.
        vals = list(v) + [-x for x in v if isinstance(x, float) and x == 0]
        return pc.if_else(c.is_null(), pa.scalar(None, pa.bool_()), c.isin(vals))
    if isinstance(f, IsNull):
        return c.is_null()
    if isinstance(f, IsNotNull):
        return ~c.is_null()
    if isinstance(f, StringStartsWith):
        return pc.starts_with(c, v)
    if isinstance(f, StringContains):
        return pc.match_substring(c, v)
    return None  # StringEndsWith, EqualNullSafe, anything else


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
        """Plan the scan segments (A4). ``readPartitions`` wins. Otherwise
        a read whose pushed filters pin the hash key with EqualTo or In
        (GetItem, Query, BatchGetItem) is one segment with the whole
        capacity budget, and a scan is sized from the table bytes. The
        one segment still reads every file, with the key filter pushed
        into each, until keys are routed to files (ROADMAP.md,
        key-routed planning). An unknown index raises here."""
        meta, files = keyed_store.snapshot(self.store_dir, self.table, self.index_name)
        if not files:
            return [scan_segment(0, 1, [], 0.0)]
        hash_key = keyed_store.key_spec(meta, self.index_name)["hash_key"]
        n_opt = _opt(options=self.options, key="readPartitions")
        if n_opt is not None:
            n = max(1, int(n_opt))
        elif any(
            isinstance(f, (EqualTo, In)) and f.attribute == (hash_key,)
            for f in self.pushed
        ):
            n = 1
        else:
            # segments = f(table bytes / target partition size), like
            # TableConnector computes TotalSegments from table size.
            total_bytes = sum(os.path.getsize(f) for f in files)
            target = 128 * 1024 * 1024
            n = min(len(files), max(1, -(-total_bytes // target)))
            n = max(n, min(len(files), 8))
        n = min(n, len(files))
        provisioned = float(meta.get("rcu") or 0.0)
        if provisioned <= 0:  # on-demand → 'throughput' option, 0 = unthrottled
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
        import pyarrow.dataset as pds

        _reread_zips_on_change()
        seg = partition.value

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

# ---------------------------------------------------------------------------
# Writer (A10/A11/A12/A13)
# ---------------------------------------------------------------------------

class TransactionCanceledException(RuntimeError):
    """All-or-nothing transactional batch rejected (A24) — mirrors
    DynamoDB's TransactionCanceledException."""


@dataclass
class ArrowBatches(WriterCommitMessage):
    """One write task's rows, in the order Spark handed them over."""

    table: "pa.Table"


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


def _as_set(col: "pa.ChunkedArray"):
    """DynamoDB set types (SS/NS/BS) are unique on write (SURVEY §1.2):
    each list of a declared set column is deduped and sorted."""
    import pyarrow as pa

    if not pa.types.is_list(col.type):
        return col
    return pa.array(
        [v if v is None else sorted(set(v)) for v in col.to_pylist()], col.type
    )


class DynamoWriter(DataSourceArrowWriter):
    """Batch writer with put/update/delete modes.

    ``pace`` spends a batch's WCU in writeBatchSize slices, mirroring
    25-item BatchWriteItem calls; commit_table() refuses items without a
    key, merges the batch into the keyed store on the driver and
    publishes the base, its GSIs and the meta together with
    ``keyed_store.publish`` — see the module docstring for the
    production mapping.

    Two orchestrations drive it; both pace the whole batch with the
    whole budget, and both hold it in one process, bounded by
    ``spark.driver.maxResultSize``. ``write_dynamo`` builds it in the
    calling process, paces the collected batch there and calls
    commit_table(). ``df.write.format("dynamo")`` and the stream sink go
    through Spark, which builds it in a planning runner; each task
    returns its Arrow batches in its commit message (``write``), and a
    commit runner paces and merges them in commit(). A failed job
    leaves nothing to remove, so Spark's do-nothing abort() stands.
    """

    def __init__(self, schema: StructType, options, overwrite: bool) -> None:
        self.schema_ = schema
        self.options = options
        self.overwrite = overwrite
        self.table = _opt(options, "tableName")
        if not self.table:
            raise ValueError("dynamo sink requires option('tableName', ...)")
        self.store_dir = _opt(options, "storeDir", keyed_store.DEFAULT_STORE_DIR)
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
        self.batch_size = int(_opt(options, "writeBatchSize", 25))
        wcu = keyed_store.read_meta(self.store_dir, self.table).get("wcu")
        self.provisioned = float(wcu or 0.0) or float(_opt(options, "throughput", 0) or 0)

    def pace(self, batches: Iterable["pa.RecordBatch"]) -> "pa.Table":
        """The batches as one table of the write's schema. Each
        ``writeBatchSize`` slice is one BatchWriteItem (A11): it consumes
        its WCU from one bucket holding the write's whole budget (A8)
        before the next."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(self.schema_)
        bytes_per_wcu = float(_opt(self.options, "bytesPerWCU", BYTES_PER_WCU))
        target = float(_opt(self.options, "targetCapacity", 1.0))
        bucket = TokenBucket(partition_rate(target, self.provisioned, 1))
        chunks = []
        for batch in batches:
            for start in range(0, batch.num_rows, self.batch_size):
                chunk = batch.slice(start, self.batch_size)
                bucket.acquire(max(chunk.nbytes / bytes_per_wcu, chunk.num_rows))
                chunks.append(chunk)
        if not chunks:
            return arrow_schema.empty_table()
        return pa.Table.from_batches(chunks).cast(arrow_schema)

    def write(self, iterator: Iterator["pa.RecordBatch"]) -> ArrowBatches:
        """Spark's write task (``df.write.format``, the stream sink):
        return its Arrow batches, unchanged, for commit() to pace."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        _reread_zips_on_change()
        arrow_schema = to_arrow_schema(self.schema_)
        batches = list(iterator)
        if batches and isinstance(batches[0], tuple):
            # Tuples, one per row: perfbench's direct_write
            # (perfbench/workloads.py) calls write() with them.
            batches = [pa.RecordBatch.from_arrays(
                [pa.array(col, f.type) for col, f in zip(zip(*batches), arrow_schema)],
                schema=arrow_schema,
            )]
        return ArrowBatches(
            pa.Table.from_batches(batches) if batches else arrow_schema.empty_table()
        )

    # -- driver-side merge --
    def commit(self, messages: list[ArrowBatches]) -> None:
        """Pace the tasks' batches, in partition order, with the whole
        budget and merge them."""
        _reread_zips_on_change()
        self.commit_table(self.pace(b for m in messages if m for b in m.table.to_batches()))

    def commit_table(self, staged: "pa.Table") -> None:
        """Merge ``staged`` (rows in write order) into the store and
        publish the result."""
        import pyarrow.dataset as pds

        meta, base_files = keyed_store.snapshot(self.store_dir, self.table)
        key_cols = keyed_store.key_columns(meta)
        keyed_store.refuse_null_keys(self.table, {
            k: staged[k].null_count if k in staged.column_names else staged.num_rows
            for k in key_cols
        })
        for col in meta.get("set_columns", []):
            if col in staged.column_names:
                i = staged.schema.get_field_index(col)
                staged = staged.set_column(i, col, _as_set(staged[col]))
        base = (
            pds.dataset(base_files, format="parquet").to_table()
            if base_files and not self.overwrite else None
        )
        merged = merge(
            base, staged, key_cols, self.mode,
            _opt(self.options, "versionColumn", "version"),
        )
        keyed_store.publish(self.store_dir, self.table, meta, merged)


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
        # User-supplied schema wins (A14 typed read → explicit schema).
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        _reread_zips_on_change()
        table = _opt(self.options, "tableName")
        if not table:
            raise ValueError("dynamo source requires option('tableName', ...)")
        store_dir = _opt(self.options, "storeDir", keyed_store.DEFAULT_STORE_DIR)
        meta, segments = keyed_store.snapshot(store_dir, table, _opt(self.options, "indexName"))
        if not segments:
            raise ValueError(f"dynamo table '{table}' has no data segments")
        # The schema the table was written with, keys non-nullable (A3);
        # documents' schemas are inferred when they are ingested.
        keys = {meta["hash_key"], meta.get("range_key")}
        schema = StructType([
            StructField(f.name, f.dataType, nullable=f.name not in keys)
            for f in from_arrow_schema(pq.read_schema(segments[0])).fields
        ])
        cols = _opt(self.options, "columns")
        if cols:  # projection pushdown via option (A6; Python DS has no prune hook)
            want = [c.strip() for c in cols.split(",")]
            schema = StructType([schema[c] for c in want])
        return schema

    # Each method below (with schema(), DynamoReader.read and
    # DynamoWriter.write/commit) is the connector's first call in one
    # kind of Spark Python worker; see _reread_zips_on_change.
    def reader(self, schema: StructType) -> DynamoReader:
        _reread_zips_on_change()
        return DynamoReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DynamoWriter:
        _reread_zips_on_change()
        return DynamoWriter(schema, self.options, overwrite)

    def streamReader(self, schema: StructType) -> "DynamoStreamReader":
        _reread_zips_on_change()
        return DynamoStreamReader(schema, self.options)

    def streamWriter(self, schema: StructType, overwrite: bool) -> "DynamoStreamWriter":
        _reread_zips_on_change()
        return DynamoStreamWriter(schema, self.options, overwrite)


def _reread_zips_on_change() -> None:
    """Make ``zipimporter.invalidate_caches`` in this process re-read an
    archive's directory only when the archive's (mtime, size) changed
    since that importer last read it.

    PySpark's workers call ``importlib.invalidate_caches()`` at the start
    of every call, and CPython 3.11's zipimporter re-parses its whole
    archive there: about 28,000 entries (pyspark.zip, the spark-core
    jar, py4j, the shipped package), 64 ms of CPU per call. After this,
    that reset costs one ``stat`` per zipimporter. Idempotent.

    In a ``session.get_spark`` session, ``spark_dynamodb_spark.daemon``
    runs this before it forks any task worker. The calls in the connector
    cover the rest: Spark forks the planner runners (schema, pushdown,
    write, commit) from the stock ``pyspark.daemon``, and a session that
    ``get_spark`` did not build has no daemon module of ours.
    """
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "on_change", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            reread(self)
            self._archive_stamp = stamp

    invalidate_caches.on_change = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


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
      for streamReader/streamWriter planning): these do NOT see
      pyFiles, so the class graph must be self-contained —
      register_pickle_by_value makes cloudpickle serialize our
      modules by value instead of by import reference (found by the
      out-of-repo driver simulation: ModuleNotFoundError inside
      PythonStreamingSourceRunner).
    """
    _ship_package(spark)
    # Once per session: each registration pickles the three modules by
    # value and ships them over py4j, which costs driver time per call.
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
# files stand in for stream shards, and each file is one task of a
# micro-batch (≙ one GetRecords page per shard iterator) that reads
# Arrow with DynamoReader.read. Offsets are {"files_done": n} over the
# SORTED file list — deterministic, replayable, and exactly-once under
# Spark's offset log while no commit changes that list (ROADMAP item 6).
# A micro-batch runs to the latest offset, so a static table arrives in
# one batch: pyspark's Python stream API has no admission control.


class DynamoStreamReader(DynamoReader, DataSourceStreamReader):
    def initialOffset(self) -> dict:
        return {"files_done": 0}

    def latestOffset(self) -> dict:
        _, files = keyed_store.snapshot(self.store_dir, self.table, self.index_name)
        return {"files_done": len(files)}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        _, files = keyed_store.snapshot(self.store_dir, self.table, self.index_name)
        lo, hi = start["files_done"], end["files_done"]
        return [
            scan_segment(i, len(files), [f], 0.0) for i, f in enumerate(files[lo:hi], lo)
        ]

    def commit(self, end: dict) -> None:
        pass  # the source holds nothing to release


class DynamoStreamWriter(DynamoWriter, DataSourceStreamArrowWriter):
    """Streaming SINK (``writeStream.format("dynamo")``) — every
    micro-batch runs the batch writer's write and commit: its tasks hand
    their Arrow batches to the driver-side merge, bounded by
    ``spark.driver.maxResultSize`` (put replaces whole items,
    ``update``/``delete`` options select the other merge modes).
    Idempotent under batch retries for put/update: re-merging the same
    keyed items is a no-op, which is the property a KV sink needs for
    effectively-once output from an at-least-once engine. s05's
    foreachBatch upsert is the user-space spelling; this is the
    first-class sink.
    """

    def commit(self, messages, batchId: int) -> None:
        super().commit(list(messages))

    def abort(self, messages, batchId: int) -> None:
        pass  # a failed batch never reached commit(): the store is unchanged
