"""Spark-free tests of read planning: each test builds a keyed store by
hand under ``tmp_path`` (8 base segment files and one 8-file GSI) and
drives ``DynamoDataSource.schema`` → ``pushFilters`` → ``partitions`` →
``read`` in process, the same calls Spark makes; the stream reader is
driven through its offsets the same way."""

from __future__ import annotations

import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.datasource import EqualTo, GreaterThan, In, LessThanOrEqual, Not
from pyspark.sql.types import LongType, StructField, StructType

from spark_dynamodb_spark.sources import keyed_store
from spark_dynamodb_spark.sources.dynamo import DynamoDataSource

FILES = 8
ITEMS = 400
KINDS = ["a", "b", "c", "d", "e"]


@pytest.fixture
def store(tmp_path) -> str:
    """Table ``t``: hash key ``pk``, range key ``sk``, GSI ``by_kind``
    keyed on ``kind``; base files split by ``pk``, GSI files by ``kind``."""
    store = str(tmp_path)
    keyed_store.write_meta(store, "t", {
        "table": "t", "hash_key": "pk", "range_key": "sk", "rcu": 0.0, "wcu": 0.0,
        "gsis": [{"name": "by_kind", "hash_key": "kind", "range_key": "pk"}],
        "n_segments": FILES, "set_columns": [],
    })
    rows = [
        {"pk": i // 2, "sk": i % 2, "kind": KINDS[i % len(KINDS)], "payload": f"p{i % 7}",
         "score": i / 4}
        for i in range(ITEMS)
    ]
    split = {
        None: lambda r: r["pk"] % FILES,
        "by_kind": lambda r: (KINDS.index(r["kind"]) + r["sk"] * 3) % FILES,
    }
    for index, seg_of in split.items():
        d = keyed_store.data_dir(store, "t", index)
        os.makedirs(d)
        for seg in range(FILES):
            part = [r for r in rows if seg_of(r) == seg]
            pq.write_table(pa.Table.from_pylist(part), os.path.join(d, f"part-{seg:05d}.parquet"))
    return store


def _plan(store, filters, **options):
    """(planned partitions, rows read across all of them)."""
    opts = {"tablename": "t", "storedir": store}
    opts.update({k.lower(): str(v) for k, v in options.items()})
    ds = DynamoDataSource(opts)
    reader = ds.reader(ds.schema())
    list(reader.pushFilters(filters))
    parts = reader.partitions()
    return parts, _rows(reader, parts)


def _rows(reader, parts) -> Counter:
    """Every row that ``reader`` reads from ``parts``."""
    return Counter(
        tuple(sorted(r.items()))
        for p in parts
        for batch in reader.read(p)
        for r in batch.to_pylist()
    )


KEYED = {
    "get_item": ([EqualTo(("pk",), 7), EqualTo(("sk",), 1)], {}),
    "query": ([EqualTo(("pk",), 7)], {}),
    "batch_get_item": ([In(("pk",), (1, 2, 3, 150)), EqualTo(("sk",), 0)], {}),
    "gsi_query": ([EqualTo(("kind",), "c")], {"indexName": "by_kind"}),
}


@pytest.mark.parametrize("name", KEYED)
def test_key_addressed_read_is_one_partition(store, name):
    filters, options = KEYED[name]
    parts, rows = _plan(store, filters, **options)
    assert len(parts) == 1
    assert len(parts[0].value["files"]) == FILES  # keys are not routed to files
    _, spread = _plan(store, filters, readPartitions=8, **options)
    assert rows == spread and rows


SCANS = {
    "range_key_only": ([EqualTo(("sk",), 1)], {}),
    "payload": ([EqualTo(("payload",), "p3")], {}),
    "hash_key_range": ([GreaterThan(("pk",), 10)], {}),
    "no_filter": ([], {}),
    "pushdown_off": ([EqualTo(("pk",), 7)], {"filterPushdown": "false"}),
    "gsi_key_on_base": ([EqualTo(("kind",), "c")], {}),
    "base_key_on_gsi": ([EqualTo(("pk",), 7)], {"indexName": "by_kind"}),
}


@pytest.mark.parametrize("name", SCANS)
def test_scan_keeps_file_sized_plan(store, name):
    filters, options = SCANS[name]
    parts, _ = _plan(store, filters, **options)
    assert len(parts) == min(FILES, 8)


def test_read_partitions_wins_over_key_filter(store):
    parts, _ = _plan(store, [EqualTo(("pk",), 7)], readPartitions=3)
    assert len(parts) == 3


def test_one_partition_gets_whole_capacity_budget(store):
    (one,), _ = _plan(store, [EqualTo(("pk",), 7)], throughput=100)
    spread, _ = _plan(store, [], throughput=100)
    assert one.value["rate"] == 100.0
    assert [p.value["rate"] for p in spread] == [12.5] * 8


@pytest.mark.parametrize(
    "explicit_schema", [False, True], ids=["via_ds_schema", "explicit_schema"]
)
def test_unknown_index_names_table_index_and_indexes(store, explicit_schema):
    """``read.schema(...).load()`` skips ``DynamoDataSource.schema``, so
    planning checks the index as well."""
    with pytest.raises(ValueError, match=r"'t' has no index 'nope' \(indexes: by_kind\)"):
        if explicit_schema:
            ds = DynamoDataSource({"tablename": "t", "storedir": store, "indexname": "nope"})
            ds.reader(StructType([StructField("pk", LongType())])).partitions()
        else:
            _plan(store, [], indexName="nope")


NAN = float("nan")
RESIDUAL = {
    "in_with_null": In(("pk",), (1, None)),
    "not_in_with_null": Not(In(("pk",), (1, None))),
    "equal_nan": EqualTo(("score",), NAN),
    "greater_than_nan": GreaterThan(("score",), NAN),
    "not_at_most_nan": Not(LessThanOrEqual(("score",), NAN)),
}


@pytest.mark.parametrize("name", RESIDUAL)
def test_filter_arrow_would_answer_differently_stays_residual(store, name):
    """Arrow's is_in matches null to null and Arrow compares NaN as IEEE
    does, Spark does neither; a finite comparison on the double column
    stays pushed."""
    ds = DynamoDataSource({"tablename": "t", "storedir": store})
    reader = ds.reader(ds.schema())
    pushed = GreaterThan(("score",), 2.0)
    assert list(reader.pushFilters([RESIDUAL[name], pushed])) == [RESIDUAL[name]]
    assert reader.pushed == [pushed]


def test_stream_span_reads_what_the_batch_reader_reads(store):
    """The stream from its initial to its latest offset reads the batch
    reader's rows; a span between two inner offsets reads exactly the
    files in it, one file per partition."""
    ds = DynamoDataSource({"tablename": "t", "storedir": store})
    reader = ds.streamReader(ds.schema())
    start, end = reader.initialOffset(), reader.latestOffset()
    assert end == {"files_done": FILES}
    _, batch_rows = _plan(store, [])
    assert _rows(reader, reader.partitions(start, end)) == batch_rows

    _, files = keyed_store.snapshot(store, "t")
    inner = reader.partitions({"files_done": 2}, {"files_done": 5})
    assert [p.value["files"] for p in inner] == [[f] for f in files[2:5]]
    assert _rows(reader, inner) == Counter(
        tuple(sorted(r.items())) for f in files[2:5] for r in pq.read_table(f).to_pylist()
    )
    assert reader.partitions(end, end) == []
