"""Keyed document store — the local stand-in for a DynamoDB table.

Layout (FIXTURES.md "DynamoDB-shaped fixture"):

    <store_dir>/<table>/
      _meta.json            # {hash_key, range_key?, rcu, wcu, gsis, n_segments, set_columns}
      data/part-*.parquet   # N segment files, hash-partitioned on hash_key
      gsi/<name>/part-*.parquet   # materialized GSI, re-keyed

The reference's table semantics mapped here (SURVEY §1.1):
- partition key → ``write_segments`` places every row by
  ``segment_ids`` of ``hash_key``, so a key lives in exactly one
  segment file, ``part-<seg>.parquet``, for the table's whole life:
  ``create_table`` and every commit place it the same way;
- sort key → rows sorted by (hash_key, range_key) within segments;
- GSI → a *materialized* copy re-partitioned by the index keys, like
  DynamoDB's async-replicated index (``connector/TableIndexConnector``),
  replaced with the base by every commit;
- provisioned RCU/WCU → stored in _meta.json, consumed by the reader/
  writer token buckets;
- schemalessness → ``ingest_jsonl`` loads JSON-lines documents whose
  schema only exists by sampling (the reference's inference path, A3)
  and writes them through ``create_table`` like any other table.

``publish`` replaces a table's base, GSIs and ``_meta.json`` by one
rename (``create_table`` and every commit); ``snapshot`` reads which
files make it up. Still open (ROADMAP item 1): planned files can change
or vanish before a reader opens them, two concurrent writers can lose
an update, and a crash between ``publish``'s two renames leaves
``<table>.old-*`` and no ``<table>/``.

``create_table`` collects its input with ``df.toArrow()``, bounded by
``spark.driver.maxResultSize`` as every write already is, and writes
the segments in the calling process. A collect of ``make stress``'s 10x
lineitem fixture has not been tried.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
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

if TYPE_CHECKING:
    import pyarrow as pa

DEFAULT_STORE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
    "dynamo",
)


def meta_path(store_dir: str, table: str) -> str:
    return os.path.join(store_dir, table, "_meta.json")


def data_dir(store_dir: str, table: str, index_name: str | None = None) -> str:
    if index_name:
        return os.path.join(store_dir, table, "gsi", index_name)
    return os.path.join(store_dir, table, "data")


def read_meta(store_dir: str, table: str) -> dict:
    with open(meta_path(store_dir, table)) as f:
        return json.load(f)


def write_meta(store_dir: str, table: str, meta: dict) -> None:
    os.makedirs(os.path.join(store_dir, table), exist_ok=True)
    with open(meta_path(store_dir, table), "w") as f:
        json.dump(meta, f, indent=2)


def list_segments(store_dir: str, table: str, index_name: str | None = None) -> list[str]:
    d = data_dir(store_dir, table, index_name)
    if not os.path.isdir(d):
        return []
    return sorted(
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def key_spec(meta: dict, index_name: str | None = None) -> dict:
    """A read's key schema: ``meta``, or its GSI ``index_name``'s entry (A5)."""
    if not index_name:
        return meta
    gsis = meta.get("gsis", [])
    for gsi in gsis:
        if gsi["name"] == index_name:
            return gsi
    names = ", ".join(g["name"] for g in gsis) or "none"
    raise ValueError(
        f"dynamo table '{meta['table']}' has no index '{index_name}' (indexes: {names})"
    )


def snapshot(store_dir: str, table: str, index_name: str | None = None) -> tuple:
    """(meta, files of the base or of GSI ``index_name``): the one reader
    of which files make up a table. An unknown index raises ValueError."""
    meta = read_meta(store_dir, table)
    key_spec(meta, index_name)
    return meta, list_segments(store_dir, table, index_name)


def refuse_null_keys(table: str, nulls: dict[str, int]) -> None:
    """Raise ValueError for the first key column with nulls (``nulls``:
    key column → count); every later read would fail on such an item."""
    for key, n in nulls.items():
        if n:
            raise ValueError(
                f"dynamo table '{table}': {n} staged item(s) have no value for key '{key}'"
            )


def key_columns(spec: dict) -> list[str]:
    """The hash key and, if any, the range key of a table's meta or of
    one of its GSI entries."""
    return [spec["hash_key"]] + ([spec["range_key"]] if spec.get("range_key") else [])


def segment_ids(col: "pa.ChunkedArray", n_segments: int):
    """The segment of every value of a partition-key column: pandas'
    hash of the column's non-null values, held as their own type (an
    int64 column with a null would reach pandas as float64 and hash
    every value differently); a null is in segment 0."""
    import numpy as np
    import pandas as pd
    import pyarrow.compute as pc

    values = col.drop_null().to_pandas()
    seg = np.zeros(len(col), dtype=np.uint64)
    seg[pc.is_valid(col).to_numpy(zero_copy_only=False)] = (
        pd.util.hash_pandas_object(values, index=False).to_numpy() % n_segments
    )
    return seg


def write_segments(
    out: str, rows: "pa.Table", part_key: str, sort_keys: list[str], n_segments: int
) -> None:
    """Write ``rows`` into the new directory ``out``: one zstd
    ``part-<seg>.parquet`` per non-empty segment of ``part_key``, its rows
    sorted by ``sort_keys``. A table with no rows is one empty
    ``part-00000.parquet`` that keeps the schema."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(out)
    seg = segment_ids(rows[part_key], n_segments).astype(np.int64)
    order = rows.select(sort_keys).append_column("_seg", pa.array(seg))
    rows = rows.take(pc.sort_indices(
        order, [("_seg", "ascending")] + [(k, "ascending") for k in sort_keys]
    ))
    counts = np.bincount(seg, minlength=n_segments)
    starts = np.cumsum(counts) - counts
    for i in np.flatnonzero(counts) if rows.num_rows else [0]:
        pq.write_table(
            rows.slice(starts[i], counts[i]),
            os.path.join(out, f"part-{i:05d}.parquet"),
            compression="zstd",
        )


def publish(store_dir: str, table: str, meta: dict, rows: "pa.Table") -> None:
    """Replace table ``table`` with ``rows``, the one code that does: the
    base and every GSI (``write_segments``) and ``_meta.json`` are staged
    in ``<table>.tmp-<hex>``, the live ``<table>/`` renamed aside to
    ``<table>.old-<hex>``, the staged one renamed in and the old one
    removed. A failure leaves the table as it was and neither behind."""
    tag = uuid.uuid4().hex[:8]
    tdir, staged = os.path.join(store_dir, table), f"{table}.tmp-{tag}"
    tmp, old = os.path.join(store_dir, staged), f"{tdir}.old-{tag}"
    try:
        for spec in [meta] + meta.get("gsis", []):  # the meta has no "name": data/
            write_segments(
                data_dir(store_dir, staged, spec.get("name")), rows, spec["hash_key"],
                key_columns(spec), int(meta.get("n_segments", 8)),
            )
        write_meta(store_dir, staged, meta)
        if os.path.isdir(tdir):
            os.rename(tdir, old)
        os.rename(tmp, tdir)
    finally:
        if os.path.isdir(old) and not os.path.isdir(tdir):
            os.rename(old, tdir)  # the second rename failed: keep the live table
        for d in (tmp, old):
            if os.path.isdir(d):
                shutil.rmtree(d)


def create_table(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    hash_key: str,
    range_key: str | None = None,
    gsis: list[dict] | None = None,
    store_dir: str = DEFAULT_STORE_DIR,
    n_segments: int = 8,
    rcu: float = 0.0,
    wcu: float = 0.0,
    set_columns: list[str] | None = None,
) -> dict:
    """Create (or replace) a keyed table from a DataFrame.

    rcu/wcu = 0 means on-demand (no throttling unless the reader's
    ``throughput`` option supplies a budget, mirroring the reference's
    on-demand default of 100).

    ``set_columns`` declares array columns with DynamoDB set semantics
    (SS/NS/BS, SURVEY §1.2): uniqueness is enforced on every write —
    the writer sorts+dedups them, like the reference's set conversion.

    The rows are collected with ``df.toArrow()`` and written, as they
    are (no merge, no dedup), by ``publish``, as every commit is. A row
    with no value for the hash or range key raises ValueError before any
    file is written, and any existing table stays as it was.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    meta = {
        "table": table,
        "hash_key": hash_key,
        "range_key": range_key,
        "rcu": rcu,
        "wcu": wcu,
        "gsis": gsis or [],
        "n_segments": n_segments,
        "set_columns": set_columns or [],
    }
    rows = df.toArrow().cast(to_arrow_schema(df.schema))
    refuse_null_keys(table, {k: rows[k].null_count for k in key_columns(meta)})
    publish(store_dir, table, meta, rows)
    return meta


# ---------------------------------------------------------------------------
# JSON-lines ingest: schema inference by sampling (A3)
# ---------------------------------------------------------------------------

SAMPLE_ROWS = 1000  # ~1 page, mirrors the reference's 1 MB sample scan (A3)


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


def _infer_schema(docs: list[dict], keys: set[str]) -> StructType:
    """The union of the attributes of the first SAMPLE_ROWS documents in
    first-seen order; an attribute only ever null is a string, and the
    ``keys`` are non-nullable."""
    fields: dict[str, object] = {}
    for doc in docs[:SAMPLE_ROWS]:
        for k, v in doc.items():
            fields[k] = _merge_types(fields.get(k), _infer_json_type(v))
    return StructType(
        [StructField(k, t or StringType(), nullable=k not in keys) for k, t in fields.items()]
    )


def _coerce(v, dt):
    """One attribute converted to the inferred type (TypeConversion.scala,
    A9): a value that does not convert becomes null."""
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


def ingest_jsonl(
    spark: SparkSession,
    paths: list[str],
    table: str,
    hash_key: str,
    range_key: str | None = None,
    **create_table_options,
) -> dict:
    """Create (or replace) a keyed table from JSON-lines files, one
    document per line, read once on the driver.

    The schema is inferred from the first SAMPLE_ROWS documents (A3).
    Every document is coerced to it: a missing attribute is null, and an
    attribute no sampled document had is dropped. The table is then
    written by ``create_table``, which takes the remaining options.
    A document with no value for a key attribute raises ValueError.
    """
    docs, where = [], []
    for path in paths:
        with open(path) as f:
            for n, line in enumerate(f, 1):
                docs.append(json.loads(line))
                where.append(f"{path}:{n}")
    keys = [hash_key] + ([range_key] if range_key else [])
    schema = _infer_schema(docs, set(keys))
    rows = []
    for doc, at in zip(docs, where):
        item = {f.name: _coerce(doc.get(f.name), f.dataType) for f in schema.fields}
        for k in keys:
            if item.get(k) is None:
                raise ValueError(
                    f"ingest_jsonl: document {at} for table '{table}' has no value "
                    f"for key '{k}'"
                )
        rows.append(tuple(item.values()))
    return create_table(
        spark, spark.createDataFrame(rows, schema), table, hash_key, range_key,
        **create_table_options,
    )
