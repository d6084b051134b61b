"""Keyed document store — the local stand-in for a DynamoDB table.

Layout (FIXTURES.md "DynamoDB-shaped fixture"):

    <store_dir>/<table>/
      _meta.json            # {hash_key, range_key?, rcu, wcu, gsis, n_segments, set_columns}
      data/part-*.parquet   # N segment files, hash-partitioned on hash_key
      gsi/<name>/part-*.parquet   # materialized GSI, re-keyed

The reference's table semantics mapped here (SURVEY §1.1):
- partition key → files are hash-partitioned by ``hash_key`` (Spark
  ``repartition(n, key)``), so a key lives in exactly one segment;
- sort key → rows sorted by (hash_key, range_key) within segments
  (``sortWithinPartitions``);
- GSI → a *materialized* copy re-partitioned by the index keys, like
  DynamoDB's async-replicated index (``connector/TableIndexConnector``).
  Every write commit rewrites each GSI directory right after the base
  one; the two swaps are separate, so a reader between them sees the
  new base with the old index;
- provisioned RCU/WCU → stored in _meta.json, consumed by the reader/
  writer token buckets;
- schemalessness → ``ingest_jsonl`` loads JSON-lines documents whose
  schema only exists by sampling (the reference's inference path, A3)
  and writes them through ``create_table`` like any other table.

Store creation/maintenance runs as Spark jobs (repartition + write) —
at 100 TB this is a normal shuffled write, not a driver loop.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import shutil
import uuid

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


def refuse_null_keys(table: str, nulls: dict[str, int]) -> None:
    """Raise ValueError for the first key column with nulls (``nulls``:
    key column → count); every later read would fail on such an item."""
    for key, n in nulls.items():
        if n:
            raise ValueError(
                f"dynamo table '{table}': {n} staged item(s) have no value for key '{key}'"
            )


def _footer_nulls(out_dir: str, keys: list[str]) -> dict[str, int]:
    """Per column of ``keys``, its nulls in the parquet files under
    ``out_dir``, summed from the footers; a column chunk whose footer has
    no statistics (Spark writes none for long strings and binaries) is
    read."""
    import pyarrow.parquet as pq

    nulls = dict.fromkeys(keys, 0)
    for path in glob.glob(os.path.join(out_dir, "*.parquet")):
        md = pq.read_metadata(path)
        for i, j in itertools.product(range(md.num_row_groups), range(md.num_columns)):
            col = md.row_group(i).column(j)
            if col.path_in_schema in nulls:
                st = col.statistics
                nulls[col.path_in_schema] += st.null_count if st and st.has_null_count else (
                    pq.ParquetFile(path).read_row_group(i, [col.path_in_schema])[0].null_count
                )
    return nulls


def _write_partitioned(
    df: DataFrame, key: str, range_key: str | None, out_dir: str, n_segments: int
) -> None:
    # INT96 (the default) reads back as Arrow timestamp[ns], which the
    # Arrow batch path rejects — write explicit micros.
    df.sparkSession.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    part = df.repartition(n_segments, key)
    sort_cols = [key] + ([range_key] if range_key else [])
    part.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(out_dir)
    # Drop Spark's _SUCCESS marker; segments are the parquet files only.
    marker = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(marker):
        os.remove(marker)


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

    A row with no value for the hash or range key raises ValueError and
    leaves any existing table as it was.
    """
    gsis = gsis or []
    tdir = os.path.join(store_dir, table)
    tmp = tdir + ".tmp-" + uuid.uuid4().hex[:8]
    try:
        _write_partitioned(df, hash_key, range_key, os.path.join(tmp, "data"), n_segments)
        keys = [hash_key] + ([range_key] if range_key else [])
        refuse_null_keys(table, _footer_nulls(os.path.join(tmp, "data"), keys))
        for gsi in gsis:
            _write_partitioned(
                df,
                gsi["hash_key"],
                gsi.get("range_key"),
                os.path.join(tmp, "gsi", gsi["name"]),
                n_segments,
            )
        if os.path.isdir(tdir):
            shutil.rmtree(tdir)
        os.makedirs(os.path.dirname(tdir), exist_ok=True)
        os.rename(tmp, tdir)
    finally:
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
    meta = {
        "table": table,
        "hash_key": hash_key,
        "range_key": range_key,
        "rcu": rcu,
        "wcu": wcu,
        "gsis": gsis,
        "n_segments": n_segments,
        "set_columns": set_columns or [],
    }
    write_meta(store_dir, table, meta)
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
