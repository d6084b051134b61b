"""Spark-free tests of the write commit: each test builds a keyed store
by hand under ``tmp_path``, stages one batch through
``DynamoWriter.write`` and merges it with ``DynamoWriter.commit`` in
process — no session, so the whole file runs in about a second."""

from __future__ import annotations

import glob
import hashlib
import math
import os

import pyarrow as pa
import pyarrow.dataset as pds
import pyarrow.parquet as pq
import pytest
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
        "rcu": 0.0, "wcu": 0.0, "gsis": list(gsis), "format": "parquet",
        "n_segments": 4, "set_columns": [], **meta,
    })
    for index in [None] + [g["name"] for g in gsis]:
        d = keyed_store.data_dir(store, "t", index)
        os.makedirs(d)
        pq.write_table(base, os.path.join(d, "part-00000.parquet"))
    return store


def _commit(store, fields, rows, overwrite=False, **options) -> None:
    schema = StructType([StructField(n, t) for n, t in fields])
    opts = {"tablename": "t", "storedir": store}
    opts.update({k.lower(): str(v) for k, v in options.items()})
    writer = DynamoWriter(schema, opts, overwrite)
    writer.commit([writer.write(iter(rows))])


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
