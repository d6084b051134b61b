"""Spark-free tests of the write commit: each test builds a keyed store
by hand under ``tmp_path``, passes one batch through
``DynamoWriter.write`` and merges it with ``DynamoWriter.commit`` (or
paces Arrow batches and merges them with ``commit_table``) in process —
no session, so the whole file runs in about a second."""

from __future__ import annotations

import glob
import hashlib
import math
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.dataset as pds
import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from spark_dynamodb_spark.sources import keyed_store
from spark_dynamodb_spark.sources.dynamo import (
    DynamoWriter,
    TransactionCanceledException,
)

BIG = 2**53 + 1  # unrepresentable in float64


def _store(tmp_path, base: pa.Table, hash_key="pk", range_key=None, gsis=(), **meta) -> str:
    """A one-file table ``t`` (plus one file per GSI) holding ``base``."""
    store = str(tmp_path)
    keyed_store.write_meta(store, "t", {
        "table": "t", "hash_key": hash_key, "range_key": range_key,
        "rcu": 0.0, "wcu": 0.0, "gsis": list(gsis),
        "n_segments": 4, "set_columns": [], **meta,
    })
    for index in [None] + [g["name"] for g in gsis]:
        d = keyed_store.data_dir(store, "t", index)
        os.makedirs(d)
        pq.write_table(base, os.path.join(d, "part-00000.parquet"))
    return store


def _commit(store, fields, rows, overwrite=False, **options) -> None:
    """Write ``rows`` as one RecordBatch, the shape a Spark write task
    hands ``DynamoWriter.write``, and commit it."""
    schema = StructType([StructField(n, t) for n, t in fields])
    opts = {"tablename": "t", "storedir": store}
    opts.update({k.lower(): str(v) for k, v in options.items()})
    writer = DynamoWriter(schema, opts, overwrite)
    names = [n for n, _ in fields]
    batch = pa.RecordBatch.from_pylist(
        [dict(zip(names, row)) for row in rows], schema=to_arrow_schema(schema)
    )
    writer.commit([writer.write(iter([batch]))])


def _table(store, index=None) -> pa.Table:
    return pds.dataset(keyed_store.list_segments(store, "t", index)).to_table()


def _items(store, key=("pk",), index=None) -> dict:
    return {tuple(r[k] for k in key): r for r in _table(store, index).to_pylist()}


def _digest(store) -> str:
    h = hashlib.md5()
    for p in sorted(glob.glob(os.path.join(store, "t", "**", "*.parquet"), recursive=True)):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


@pytest.fixture
def store(tmp_path):
    """pk 1..3 with a large int, a NaN, a list, a map and a string."""
    base = pa.table({
        "pk": pa.array([1, 2, 3], pa.int64()),
        "ref_id": pa.array([BIG, None, BIG + 2], pa.int64()),
        "score": pa.array([float("nan"), 1.5, None], pa.float64()),
        "tags": pa.array([["a", "b"], [], None], pa.list_(pa.string())),
        "attrs": pa.array([{"k": 1.0}, None, {}], pa.map_(pa.string(), pa.float64())),
        "tag": pa.array(["one", "two", "three"]),
    })
    return _store(tmp_path, base, gsis=[{"name": "by_tag", "hash_key": "tag"}])


PATCH = [("pk", LongType()), ("tag", StringType())]


def _untouched(items):
    """pk 1 and 3 exactly as the fixture wrote them."""
    one, three = items[(1,)], items[(3,)]
    assert one["ref_id"] == BIG and math.isnan(one["score"])
    assert one["tags"] == ["a", "b"] and one["attrs"] == [("k", 1.0)]
    assert three["ref_id"] == BIG + 2 and three["score"] is None
    assert three["tags"] is None and three["attrs"] == []


@pytest.mark.parametrize("index", [None, "by_tag"])
def test_put_replaces_whole_items_and_leaves_the_rest_bit_identical(store, index):
    _commit(store, PATCH, [(2, "put")])
    items = _items(store, index=index)
    assert set(items) == {(1,), (2,), (3,)}
    assert items[(2,)]["tag"] == "put" and items[(2,)]["score"] is None  # whole-item replace
    _untouched(items)


def test_put_last_staged_row_wins(store):
    _commit(store, PATCH, [(4, "first"), (4, "last")])
    items = _items(store)
    assert items[(4,)]["tag"] == "last" and _table(store).num_rows == 4


def test_put_if_absent_inserts_only_new_keys(store):
    _commit(store, PATCH, [(1, "clobber"), (4, "new"), (4, "later")], putIfAbsent=True)
    items = _items(store)
    assert items[(1,)]["tag"] == "one" and items[(4,)]["tag"] == "new"
    _untouched(items)


def test_transact_cancel_leaves_files_untouched(store):
    before = _digest(store)
    with pytest.raises(TransactionCanceledException, match="1 staged key"):
        _commit(store, PATCH, [(9, "fresh"), (2, "clash")], transactPutIfAbsent=True)
    assert _digest(store) == before
    _commit(store, PATCH, [(9, "fresh")], transactPutIfAbsent=True)
    assert _items(store)[(9,)]["tag"] == "fresh"


def test_a_failed_gsi_write_leaves_the_base_its_gsi_and_the_meta_as_they_were(
    store, monkeypatch
):
    """The base, its GSIs and the meta are replaced together or not at
    all: a commit whose GSI write fails changes no file and leaves no
    staged or set-aside directory behind."""
    write = keyed_store.write_segments

    def fail_on_the_gsi(out, rows, part_key, *args):
        if part_key == "tag":
            raise OSError("no space left for the GSI")
        write(out, rows, part_key, *args)

    monkeypatch.setattr(keyed_store, "write_segments", fail_on_the_gsi)
    meta = Path(keyed_store.meta_path(store, "t")).read_bytes()
    before = _digest(store)
    with pytest.raises(OSError, match="no space left for the GSI"):
        _commit(store, PATCH, [(2, "put")])
    assert _digest(store) == before
    assert Path(keyed_store.meta_path(store, "t")).read_bytes() == meta
    assert not [
        p for p in glob.glob(os.path.join(store, "**", "*"), recursive=True)
        if ".tmp-" in p or ".old-" in p
    ]


def test_update_sets_non_null_attributes_only(store):
    fields = PATCH + [("score", DoubleType()), ("extra", LongType())]
    _commit(store, fields, [(2, None, float("nan"), 7), (4, "new", None, None)], update=True)
    items = _items(store)
    two = items[(2,)]
    assert two["tag"] == "two"  # staged null keeps the stored value
    assert math.isnan(two["score"])  # a staged NaN is a value
    assert two["extra"] == 7 and two["tags"] == []
    assert items[(4,)]["tag"] == "new" and items[(4,)]["ref_id"] is None
    _untouched(items)


def test_update_into_empty_table_stores_one_item_per_key(tmp_path):
    empty = pa.table({"pk": pa.array([], pa.int64()), "tag": pa.array([], pa.string())})
    store = _store(tmp_path, empty)
    _commit(store, PATCH, [(1, "a"), (2, "b"), (1, "c")], update=True)
    t = _table(store)
    assert t.num_rows == 2
    assert {r["pk"]: r["tag"] for r in t.to_pylist()} == {1: "c", 2: "b"}


@pytest.mark.parametrize("options", [{}, {"update": True}, {"putIfAbsent": True}])
def test_columns_keep_base_order_then_staged_only(tmp_path, options):
    base = pa.table({"tag": ["x"], "pk": pa.array([1], pa.int64())})
    store = _store(tmp_path, base)
    fields = [("new", LongType()), ("pk", LongType()), ("tag", StringType()), ("z", LongType())]
    _commit(store, fields, [(5, 2, "y", 6)], **options)
    assert _table(store).column_names == ["tag", "pk", "new", "z"]


def test_versioned_update_skips_stale_expectations(tmp_path):
    base = pa.table({
        "pk": pa.array([1, 2], pa.int64()),
        "version": pa.array([3, 3], pa.int32()),
        "val": ["a", "b"],
    })
    store = _store(tmp_path, base)
    fields = [("pk", LongType()), ("version", LongType()), ("val", StringType())]
    # pk 1 expects the stored version, pk 2 a stale one, pk 7 is absent
    _commit(store, fields, [(1, 3, "A"), (2, 2, "B"), (7, 3, "C")], versionedUpdate=True)
    assert {r["pk"]: (r["version"], r["val"]) for r in _table(store).to_pylist()} == {
        1: (4, "A"), 2: (3, "b"),
    }
    assert _table(store).schema.field("version").type == pa.int32()


def test_key_only_delete_keeps_survivors_whole(store):
    _commit(store, [("pk", LongType())], [(2,), (2,), (8,)], delete=True)
    for index in (None, "by_tag"):
        items = _items(store, index=index)
        assert set(items) == {(1,), (3,)}
        _untouched(items)


def test_delete_everything_leaves_an_empty_file_with_the_schema(store):
    _commit(store, [("pk", LongType())], [(1,), (2,), (3,)], delete=True)
    t = _table(store)
    assert t.num_rows == 0 and t.column_names[:2] == ["pk", "ref_id"]


def test_set_columns_are_deduped_and_sorted(tmp_path):
    base = pa.table({"pk": pa.array([], pa.int64()), "tags": pa.array([], pa.list_(pa.string()))})
    store = _store(tmp_path, base, set_columns=["tags"])
    fields = [("pk", LongType()), ("tags", ArrayType(StringType()))]
    _commit(store, fields, [(1, ["b", "a", "b"]), (2, None), (3, [])])
    assert {r["pk"]: r["tags"] for r in _table(store).to_pylist()} == {
        1: ["a", "b"], 2: None, 3: [],
    }


def test_map_payload_update(store):
    fields = [("pk", LongType()), ("attrs", MapType(StringType(), DoubleType()))]
    _commit(store, fields, [(2, {"z": 2.5})], update=True)
    items = _items(store)
    assert items[(2,)]["attrs"] == [("z", 2.5)] and items[(2,)]["tag"] == "two"
    _untouched(items)


def test_binary_composite_key_modes(tmp_path):
    base = pa.table({
        "h": pa.array([b"\x00", b"\x00", b"\xff"], pa.binary()),
        "r": pa.array([1, 2, 1], pa.int64()),
        "v": ["a", "b", "c"],
    })
    store = _store(tmp_path, base, hash_key="h", range_key="r")
    fields = [("h", BinaryType()), ("r", LongType()), ("v", StringType())]
    key = ("h", "r")
    _commit(store, fields, [(bytearray(b"\x00"), 2, "B"), (bytearray(b"\x01"), 1, "new")], update=True)
    _commit(store, fields, [(bytearray(b"\xff"), 1, "C")])
    _commit(store, [("h", BinaryType()), ("r", LongType())], [(bytearray(b"\x00"), 1)], delete=True)
    assert {k: r["v"] for k, r in _items(store, key).items()} == {
        (b"\x00", 2): "B", (b"\x01", 1): "new", (b"\xff", 1): "C",
    }


def test_every_key_lives_in_one_segment_file(store):
    _commit(store, PATCH, [(k, f"t{k}") for k in range(4, 40)])
    seen = {}
    for path in keyed_store.list_segments(store, "t"):
        for pk in pq.read_table(path)["pk"].to_pylist():
            assert pk not in seen, f"{pk} in {seen.get(pk)} and {path}"
            seen[pk] = path
    assert sorted(seen) == list(range(1, 40))


def test_overwrite_replaces_the_table(store):
    _commit(store, PATCH, [(5, "only")], overwrite=True)
    t = _table(store)
    assert t.column_names == ["pk", "tag"] and t.to_pylist() == [{"pk": 5, "tag": "only"}]


MODES = [{}, {"update": True}, {"delete": True}, {"putIfAbsent": True},
         {"versionedUpdate": True}, {"transactPutIfAbsent": True}]


@pytest.mark.parametrize("options", MODES)
@pytest.mark.parametrize("null_key", ["h", "r"])
def test_item_without_a_key_is_refused_before_anything_is_written(tmp_path, options, null_key):
    base = pa.table({
        "h": pa.array([1, 2], pa.int64()),
        "r": pa.array([1, 1], pa.int64()),
        "version": pa.array([1, 1], pa.int64()),
    })
    store = _store(tmp_path, base, hash_key="h", range_key="r")
    fields = [("h", LongType()), ("r", LongType()), ("version", LongType())]
    rows = [(3, 1, 1), (None, 1, 1), (None, None, 1)] if null_key == "h" else [(3, None, 1)]
    before = _digest(store)
    n = 2 if null_key == "h" else 1
    with pytest.raises(
        ValueError,
        match=f"dynamo table 't': {n} staged item\\(s\\) have no value for key '{null_key}'",
    ):
        _commit(store, fields, rows, **options)
    assert _digest(store) == before


def test_write_without_commit_leaves_the_table_directory_untouched(store):
    """A write task's batches travel in its commit message: write() alone
    changes no file under the table's directory and creates none."""
    def files() -> dict:
        root = os.path.join(store, "t")
        return {os.path.relpath(os.path.join(d, f), root): open(os.path.join(d, f), "rb").read()
                for d, _dirs, fs in os.walk(root) for f in fs}

    before = files()
    schema = StructType([StructField("pk", LongType()), StructField("tag", StringType())])
    writer = DynamoWriter(schema, {"tablename": "t", "storedir": store}, False)
    batch = pa.record_batch({"pk": pa.array([4, 5], pa.int64()), "tag": ["a", "b"]})
    msg = writer.write(iter([batch]))
    assert files() == before
    assert msg.table.num_rows == 2 and set(_items(store)) == {(1,), (2,), (3,)}


def test_row_and_table_commits_leave_the_same_store(tmp_path):
    """write(tuples) + commit() (the shape perfbench's direct_write
    passes) and pace() + commit_table() of the same rows as Arrow
    batches (write_dynamo) leave byte-identical base and GSI files."""
    empty = pa.table({"pk": pa.array([], pa.int64()), "tag": pa.array([], pa.string())})
    gsis = [{"name": "by_tag", "hash_key": "tag"}]
    stores = [_store(tmp_path / side, empty, gsis=gsis) for side in ("rows", "table")]
    rows = [(k % 45, f"t{k % 7}") for k in range(60)]  # repeated keys: the last row wins
    schema = StructType([StructField(n, t) for n, t in PATCH])
    writer = DynamoWriter(schema, {"tablename": "t", "storedir": stores[0]}, False)
    writer.commit([writer.write(iter(rows))])
    writer = DynamoWriter(schema, {"tablename": "t", "storedir": stores[1]}, False)
    batches = pa.table({"pk": [r[0] for r in rows], "tag": [r[1] for r in rows]}).to_batches(
        max_chunksize=40
    )
    writer.commit_table(writer.pace(batches))

    def files(store):
        paths = glob.glob(os.path.join(store, "t", "**", "*.parquet"), recursive=True)
        return {os.path.relpath(p, store): open(p, "rb").read() for p in paths}

    assert files(stores[0]) == files(stores[1])
    assert len(files(stores[0])) > 2 and len(_items(stores[0])) == 45


def test_write_segments_places_each_key_in_its_segment_file_sorted_and_zstd(tmp_path):
    rows = pa.table({
        "pk": pa.array([k % 13 for k in range(60)], pa.int64()),
        "rk": pa.array(range(60, 0, -1), pa.int64()),
        "v": [f"v{k}" for k in range(60)],
    })
    out = str(tmp_path / "data")
    keyed_store.write_segments(out, rows, "pk", ["pk", "rk"], 4)
    seg = dict(zip(rows["pk"].to_pylist(), keyed_store.segment_ids(rows["pk"], 4)))
    assert sorted(os.listdir(out)) == sorted({f"part-{s:05d}.parquet" for s in seg.values()})
    got = []
    for name in os.listdir(out):
        path = os.path.join(out, name)
        t = pq.read_table(path)
        assert {f"part-{seg[k]:05d}.parquet" for k in t["pk"].to_pylist()} == {name}
        keys = list(zip(t["pk"].to_pylist(), t["rk"].to_pylist()))
        assert keys == sorted(keys)
        md = pq.read_metadata(path)
        assert {md.row_group(i).column(j).compression
                for i in range(md.num_row_groups) for j in range(md.num_columns)} == {"ZSTD"}
        got += t.to_pylist()
    assert sorted(got, key=lambda r: r["v"]) == sorted(rows.to_pylist(), key=lambda r: r["v"])


@pytest.mark.parametrize("values, typ", [
    ([5, 6, 7, 2**60 + 1], pa.int64()),
    ([True, False], pa.bool_()),
    (["a", "b", "c"], pa.string()),
])
def test_segment_ids_place_a_value_the_same_beside_a_null(values, typ):
    """A value's segment is its own: an int64 beside a null is not hashed
    as the float64 pandas makes of that column. A column with no nulls
    keeps pandas' hash of the column; every null is in segment 0."""
    import pandas as pd

    alone = pa.chunked_array([pa.array(values, typ)])
    want = pd.util.hash_pandas_object(alone.to_pandas(), index=False).to_numpy() % 8
    assert keyed_store.segment_ids(alone, 8).tolist() == want.tolist()
    mixed = pa.chunked_array([pa.array([None] + values[:1], typ), pa.array(values[1:] + [None], typ)])
    got = keyed_store.segment_ids(mixed, 8).tolist()
    assert got == [0] + want.tolist() + [0]


def test_write_segments_of_no_rows_writes_one_empty_file_with_the_schema(tmp_path):
    empty = pa.table({
        "pk": pa.array([], pa.int64()),
        "tags": pa.array([], pa.list_(pa.string())),
    })
    out = str(tmp_path / "data")
    keyed_store.write_segments(out, empty, "pk", ["pk"], 4)
    assert os.listdir(out) == ["part-00000.parquet"]
    t = pq.read_table(os.path.join(out, "part-00000.parquet"))
    assert t.num_rows == 0 and t.schema.equals(empty.schema)
