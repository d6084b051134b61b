"""Spark-free tests of schema inference by sampling (A3): the schema
``keyed_store.ingest_jsonl`` gives JSON-lines documents, and how each
document is coerced to it, before the table is written."""

from __future__ import annotations

from pyspark.sql.types import DoubleType, LongType, MapType, StringType

from spark_dynamodb_spark.sources.keyed_store import SAMPLE_ROWS, _coerce, _infer_schema


def _types(docs: list[dict]) -> dict:
    return {f.name: f.dataType.simpleString() for f in _infer_schema(docs, {"pk"}).fields}


def test_long_and_double_widen_to_double():
    types = _types([{"pk": 1, "x": 5, "xs": [1]}, {"pk": 2, "x": 2.5, "xs": [2.5]}])
    assert types == {"pk": "bigint", "x": "double", "xs": "array<double>"}


def test_maps_and_arrays():
    types = _types([
        {"pk": 1, "meta": {"k": 1}, "tags": ["x", "y"]},
        {"pk": 2, "meta": {"j": 2}, "tags": []},
    ])
    assert types["meta"] == "map<string,bigint>"
    assert types["tags"] == "array<string>"


def test_irreconcilable_types_become_string():
    types = _types([
        {"pk": 1, "n": 5, "flag": True, "nested": [1], "empty": None},
        {"pk": 2, "n": "five", "flag": 1, "nested": {"a": 1}},
    ])
    assert types == {
        "pk": "bigint", "n": "string", "flag": "string", "nested": "string", "empty": "string",
    }


def test_keys_are_not_nullable():
    schema = _infer_schema([{"pk": 1, "sk": "a", "x": 1}], {"pk", "sk"})
    assert {f.name: f.nullable for f in schema.fields} == {"pk": False, "sk": False, "x": True}


def test_only_the_first_sample_rows_documents_decide():
    docs = [{"pk": i, "x": i} for i in range(SAMPLE_ROWS)]
    docs.append({"pk": SAMPLE_ROWS, "x": "late", "y": 1.5})
    assert _types(docs) == {"pk": "bigint", "x": "bigint"}


def test_coerce_to_the_inferred_type():
    assert _coerce(5, DoubleType()) == 5.0
    assert _coerce("late", LongType()) is None
    assert _coerce({"a": [1]}, StringType()) == '{"a": [1]}'
    assert _coerce({"a": 1, "b": "x"}, MapType(StringType(), LongType())) == {"a": 1, "b": None}
