"""Dynamo source tests — the local analog of the reference's
DynamoDB-Local suite (SURVEY §5): round-trips, pushdown agreement,
partition planning, rate limiting, schemaless inference."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from spark_dynamodb_spark.sources import keyed_store, read_dynamo, write_dynamo
from spark_dynamodb_spark.sources.dynamo import TransactionCanceledException
from spark_dynamodb_spark.sources.rate_limiter import TokenBucket
from spark_dynamodb_spark.tables import load_table


@pytest.fixture(scope="module")
def customer_kv(spark, sf_dir):
    name = "t_customer_kv"
    keyed_store.create_table(
        spark,
        load_table(spark, sf_dir, "customer"),
        name,
        hash_key="c_custkey",
        n_segments=4,
    )
    return name


def test_roundtrip_equals_parquet(spark, sf_dir, customer_kv):
    via_dynamo = read_dynamo(spark, customer_kv).orderBy("c_custkey").collect()
    via_parquet = load_table(spark, sf_dir, "customer").orderBy("c_custkey").collect()
    assert via_dynamo == via_parquet


def test_pushed_vs_unpushed_agreement(spark, customer_kv):
    """Same predicate with filterPushdown on/off must agree (the
    reference's pushed-vs-postScan invariant, SURVEY §5)."""
    pred = (
        (F.col("c_acctbal") > 0)
        & F.col("c_mktsegment").isin("MACHINERY", "HOUSEHOLD")
        & F.col("c_name").contains("1")
    )
    pushed = read_dynamo(spark, customer_kv).filter(pred).orderBy("c_custkey").collect()
    unpushed = (
        read_dynamo(spark, customer_kv, filterPushdown="false")
        .filter(pred)
        .orderBy("c_custkey")
        .collect()
    )
    assert pushed == unpushed
    assert len(pushed) > 0


def test_residual_endswith(spark, customer_kv):
    """StringEndsWith is NOT translatable (SURVEY §4.1) — must still
    evaluate correctly via Spark's post-scan filter."""
    rows = (
        read_dynamo(spark, customer_kv)
        .filter(F.col("c_name").endswith("7"))
        .collect()
    )
    assert all(r.c_name.endswith("7") for r in rows)
    assert len(rows) > 0


def test_read_partitions_option(spark, customer_kv):
    df = read_dynamo(spark, customer_kv, readPartitions=2)
    assert df.rdd.getNumPartitions() == 2
    df4 = read_dynamo(spark, customer_kv)
    assert df4.rdd.getNumPartitions() == 4  # one per segment file
    # a key lookup is one segment; a non-key filter keeps the file-sized plan
    key = read_dynamo(spark, customer_kv).filter(F.col("c_custkey") == 1)
    assert key.rdd.getNumPartitions() == 1
    scan = read_dynamo(spark, customer_kv).filter(F.col("c_acctbal") > 0)
    assert scan.rdd.getNumPartitions() == 4


def test_projection_option(spark, customer_kv):
    df = read_dynamo(spark, customer_kv, columns="c_custkey,c_acctbal")
    assert df.columns == ["c_custkey", "c_acctbal"]


def test_key_fields_non_nullable(spark, customer_kv):
    schema = read_dynamo(spark, customer_kv).schema
    assert not schema["c_custkey"].nullable  # key attribute (SURVEY §1.2)
    assert schema["c_name"].nullable


def test_write_put_upsert(spark, customer_kv):
    base = read_dynamo(spark, customer_kv)
    one = base.filter(F.col("c_custkey") == 1).withColumn("c_acctbal", F.lit(9999.0))
    write_dynamo(one, customer_kv)
    got = read_dynamo(spark, customer_kv).filter(F.col("c_custkey") == 1).collect()
    assert len(got) == 1 and got[0].c_acctbal == 9999.0


def test_token_bucket_timing():
    bucket = TokenBucket(rate=100.0, burst=10.0)
    t0 = time.monotonic()
    bucket.acquire(10)  # burst, free
    assert time.monotonic() - t0 < 0.05
    bucket.acquire(50)  # must wait ~0.5s
    assert time.monotonic() - t0 >= 0.45


def test_rate_limited_scan_slower(spark, sf_dir):
    """targetCapacity/throughput throttle the scan (A8)."""
    name = "t_rate_kv"
    keyed_store.create_table(
        spark,
        load_table(spark, sf_dir, "nation"),
        name,
        hash_key="n_nationkey",
        n_segments=1,
    )
    t0 = time.monotonic()
    read_dynamo(spark, name).count()
    fast = time.monotonic() - t0
    # nation arrow batch ~523B; throughput=1 RCU, bytesPerRCU=150 →
    # ~3.5 units at 1/s with burst 1 → ~2.5s sleep.
    t0 = time.monotonic()
    read_dynamo(spark, name, throughput=1, bytesPerRCU=150).count()
    slow = time.monotonic() - t0
    assert slow > fast + 1.0


def test_rate_limited_write_slower(spark, tmp_path):
    """throughput/bytesPerWCU throttle write_dynamo (A8), which paces the
    whole batch through one bucket holding the write's whole budget."""
    store, ddl = str(tmp_path), "pk long, v string"
    rows = [(k, "x" * 80) for k in range(2)]
    keyed_store.create_table(
        spark, spark.createDataFrame(rows, ddl), "t_rate_write", hash_key="pk",
        n_segments=1, store_dir=store,
    )
    df = spark.createDataFrame(rows, ddl)
    t0 = time.monotonic()
    write_dynamo(df, "t_rate_write", storeDir=store)
    fast = time.monotonic() - t0
    # ~190 Arrow bytes at bytesPerWCU=50 → ~3.8 units at 1/s with burst 1
    # → ~2.8 s asleep.
    t0 = time.monotonic()
    write_dynamo(df, "t_rate_write", storeDir=store, throughput=1, bytesPerWCU=50)
    slow = time.monotonic() - t0
    assert slow > fast + 1.0


def test_spark_write_paces_with_the_whole_budget(spark, tmp_path):
    """df.write.format("dynamo") paces its tasks' batches in commit() with
    the write's whole budget, as write_dynamo does, so a throttled
    one-task write takes about as long on either path (a fixed eighth of
    the budget per task made it about 8x slower)."""
    store, ddl = str(tmp_path), "pk long, v string"
    rows = [(k, "x" * 80) for k in range(2)]
    keyed_store.create_table(
        spark, spark.createDataFrame(rows, ddl), "t_rate_paths", hash_key="pk",
        n_segments=1, store_dir=store,
    )
    df = spark.createDataFrame(rows, ddl).coalesce(1)
    throttle = {"storeDir": store, "throughput": 1, "bytesPerWCU": 50}

    def spark_write(**options):
        w = df.write.format("dynamo").mode("append").option("tableName", "t_rate_paths")
        w.options(**{k: str(v) for k, v in options.items()}).save()

    write_dynamo(df, "t_rate_paths", storeDir=store)  # warm both paths
    spark_write(storeDir=store)
    t0 = time.monotonic()
    write_dynamo(df, "t_rate_paths", **throttle)
    caller = time.monotonic() - t0
    t0 = time.monotonic()
    spark_write(**throttle)
    via_spark = time.monotonic() - t0
    assert caller > 1.0  # the throttle bites
    assert via_spark < 1.5 * caller


def _ingest(spark, tmp_path, table: str, docs: list[dict]) -> None:
    """Write ``docs`` as one JSON-lines file and ingest it as ``table``
    (hash key ``pk``, one segment) in a store under ``tmp_path``."""
    path = tmp_path / f"{table}.jsonl"
    path.write_text("".join(json.dumps(d) + "\n" for d in docs))
    keyed_store.ingest_jsonl(
        spark, [str(path)], table, "pk", store_dir=str(tmp_path), n_segments=1
    )


def test_jsonl_schemaless_inference(spark, tmp_path):
    """Heterogeneous documents: schema = sampled union of attributes;
    missing attribute → null; numeric widening long→double (A3/§1.2)."""
    docs = [
        {"pk": 1, "name": "a", "qty": 5},
        {"pk": 2, "name": "b", "price": 1.5, "tags": ["x", "y"]},
        {"pk": 3, "qty": 2.5, "meta": {"k": 1}},
    ]
    _ingest(spark, tmp_path, "docs_kv", docs)
    df = read_dynamo(spark, "docs_kv", storeDir=str(tmp_path))
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert schema["pk"] == "bigint"
    assert schema["qty"] == "double"  # long ∪ double widens
    assert schema["tags"] == "array<string>"
    assert schema["meta"] == "map<string,bigint>"
    rows = {r.pk: r for r in df.collect()}
    assert rows[1].qty == 5.0 and rows[1].price is None
    assert rows[2].tags == ["x", "y"]
    # pushdown works on the document path too
    got = df.filter(F.col("qty") > 3).collect()
    assert [r.pk for r in got] == [1]


def test_gsi_read_matches_base(spark, sf_dir):
    name = "t_events_kv"
    keyed_store.create_table(
        spark,
        load_table(spark, sf_dir, "events"),
        name,
        hash_key="user_id",
        range_key="ts",
        gsis=[{"name": "by_type", "hash_key": "event_type", "range_key": "ts"}],
        n_segments=4,
    )
    via_gsi = (
        read_dynamo(spark, name, indexName="by_type")
        .filter(F.col("event_type") == "click")
        .orderBy("event_id")
        .collect()
    )
    via_base = (
        read_dynamo(spark, name)
        .filter(F.col("event_type") == "click")
        .orderBy("event_id")
        .collect()
    )
    assert via_gsi == via_base and len(via_gsi) > 0


def test_delete_then_empty_read(spark, sf_dir):
    name = "t_del_all"
    base = load_table(spark, sf_dir, "region")
    keyed_store.create_table(spark, base, name, hash_key="r_regionkey", n_segments=1)
    write_dynamo(base, name, delete=True)
    assert read_dynamo(spark, name).count() == 0


def test_set_column_dedup_on_write(spark, tmp_path):
    """SS/NS/BS set semantics: uniqueness enforced on write (§1.2)."""
    df = spark.createDataFrame(
        [(1, ["b", "a", "b", "a"]), (2, ["x"])], "pk long, tags array<string>"
    )
    keyed_store.create_table(
        spark, df.limit(0), "t_sets", hash_key="pk", n_segments=1,
        set_columns=["tags"],
    )
    write_dynamo(df, "t_sets")
    rows = {r.pk: r.tags for r in read_dynamo(spark, "t_sets").collect()}
    assert rows[1] == ["a", "b"]  # deduped + sorted
    assert rows[2] == ["x"]


def test_nested_types_roundtrip(spark):
    """Nested list/map/struct round-trip through the source (the
    reference's TestDataTypes coverage, SURVEY §5)."""
    df = spark.createDataFrame(
        [
            (1, ["a", "b"], {"k": 1.5}, (7, "x"), bytearray(b"\x01\x02")),
            (2, [], {}, (8, None), bytearray(b"")),
        ],
        "pk long, arr array<string>, m map<string,double>, "
        "s struct<f1:int,f2:string>, blob binary",
    )
    keyed_store.create_table(spark, df, "t_nested", hash_key="pk", n_segments=1)
    back = {r.pk: r for r in read_dynamo(spark, "t_nested").collect()}
    orig = {r.pk: r for r in df.collect()}
    for pk in (1, 2):
        assert back[pk].arr == orig[pk].arr
        assert back[pk].m == orig[pk].m
        assert back[pk].s == orig[pk].s
        assert bytes(back[pk].blob) == bytes(orig[pk].blob)


def test_partial_update_keeps_unmentioned_columns(spark, sf_dir):
    """UpdateItem with a column SUBSET: unmentioned attributes keep
    their existing values table-wide (ADVICE r1: the rewrite schema
    must come from the merged frame, not the staged input)."""
    name = "t_partial_upd"
    base = load_table(spark, sf_dir, "nation")
    keyed_store.create_table(spark, base, name, hash_key="n_nationkey", n_segments=2)
    patch = spark.createDataFrame([(0, "PATCHED")], "n_nationkey long, n_name string")
    write_dynamo(patch, name, update=True)
    back = read_dynamo(spark, name)
    assert set(back.columns) == set(base.columns)  # nothing dropped
    rows = {r.n_nationkey: r for r in back.collect()}
    assert rows[0].n_name == "PATCHED"
    orig = {r.n_nationkey: r for r in base.collect()}
    assert rows[0].n_regionkey == orig[0].n_regionkey  # unmentioned attr kept
    assert rows[5].n_name == orig[5].n_name  # untouched row intact


def test_key_only_delete_keeps_columns(spark, sf_dir):
    """DeleteItem by key with a key-only frame: survivors keep every
    attribute (the reference connector supports key-only deletes)."""
    name = "t_keyonly_del"
    base = load_table(spark, sf_dir, "region")
    keyed_store.create_table(spark, base, name, hash_key="r_regionkey", n_segments=1)
    keys = spark.createDataFrame([(0,), (3,)], "r_regionkey long")
    write_dynamo(keys, name, delete=True)
    back = read_dynamo(spark, name)
    assert set(back.columns) == set(base.columns)
    rows = {r.r_regionkey: r for r in back.collect()}
    assert set(rows) == {1, 2, 4}
    orig = {r.r_regionkey: r for r in base.collect()}
    assert rows[1].r_name == orig[1].r_name


def test_update_adds_new_attribute(spark, sf_dir):
    """UpdateItem SET on a fresh attribute name adds the column; other
    items read it as null (DynamoDB items are schemaless)."""
    name = "t_add_attr"
    base = load_table(spark, sf_dir, "region")
    keyed_store.create_table(spark, base, name, hash_key="r_regionkey", n_segments=1)
    patch = spark.createDataFrame([(2, 42)], "r_regionkey long, priority long")
    write_dynamo(patch, name, update=True)
    back = read_dynamo(spark, name)
    assert "priority" in back.columns
    rows = {r.r_regionkey: r for r in back.collect()}
    assert rows[2].priority == 42 and rows[0].priority is None
    assert rows[2].r_name is not None  # existing attrs kept on the patched row


def test_jsonl_not_filter_three_valued(spark, tmp_path):
    """NOT over a missing attribute must NOT match (SQL three-valued
    logic): pushed and unpushed plans agree on != and NOT(...) over
    schemaless docs (ADVICE r1 — pushed filters are not re-checked)."""
    docs = [
        {"pk": 1, "qty": 5},
        {"pk": 2, "qty": 7},
        {"pk": 3},  # qty missing → NULL: excluded by qty != 5 AND NOT(qty > 6)
    ]
    _ingest(spark, tmp_path, "tv_kv", docs)
    for pred, want in [
        (F.col("qty") != 5, [2]),
        (~(F.col("qty") > 6), [1]),
        (F.col("qty").isNull(), [3]),
        (~F.col("qty").isNull() & (F.col("qty") != 7), [1]),
        # x IN (5, NULL) is NULL, not TRUE, for every x but 5
        (F.col("qty").isin(5, None), [1]),
        (~F.col("qty").isin(5, None), []),
    ]:
        pushed = read_dynamo(spark, "tv_kv", storeDir=str(tmp_path)).filter(pred)
        unpushed = read_dynamo(
            spark, "tv_kv", storeDir=str(tmp_path), filterPushdown="false"
        ).filter(pred)
        assert sorted(r.pk for r in pushed.collect()) == want, str(pred)
        assert sorted(r.pk for r in unpushed.collect()) == want, str(pred)


def test_ingest_jsonl_names_a_document_without_its_hash_key(spark, tmp_path):
    """A document with no hash key is refused at ingest, by name, rather
    than stored as a null key that every read would fail on in the JVM."""
    with pytest.raises(
        ValueError,
        match=r"document \S+nokey_kv\.jsonl:2 for table 'nokey_kv' has no value for key 'pk'",
    ):
        _ingest(spark, tmp_path, "nokey_kv", [{"pk": 1, "qty": 5}, {"qty": 7}])
    assert not (tmp_path / "nokey_kv").exists()


def test_float_filters_pushed_vs_unpushed_agree(spark, tmp_path):
    """Spark orders NaN above every other double, makes NaN = NaN and
    matches -0.0 to 0.0 in IN; Arrow compares as IEEE does and answers
    false, not null, for a null IN a list. Each comparison and its NOT,
    with a finite and with a NaN literal, keeps the same rows pushed or
    not."""
    nan, inf = float("nan"), float("inf")
    values = [1.0, nan, 5.0, None, inf, -inf, 2.0, -0.0]
    keyed_store.create_table(
        spark, spark.createDataFrame(list(enumerate(values, 1)), "pk long, d double"),
        "t_nan", hash_key="pk", store_dir=str(tmp_path), n_segments=1,
    )
    d = F.col("d")
    preds = []
    for lit in (2.0, nan):
        for p in (d == lit, d > lit, d >= lit, d < lit, d <= lit, d.isin(lit, 0.0)):
            preds += [p, ~p]
    # One unpushed read evaluates every predicate; a filter keeps TRUE.
    flags = (
        read_dynamo(spark, "t_nan", storeDir=str(tmp_path), filterPushdown="false")
        .select("pk", *[p.alias(f"p{i}") for i, p in enumerate(preds)])
        .collect()
    )
    for i, pred in enumerate(preds):
        want = sorted(r.pk for r in flags if r[f"p{i}"] is True)
        pushed = read_dynamo(spark, "t_nan", storeDir=str(tmp_path)).filter(pred)
        assert sorted(r.pk for r in pushed.collect()) == want, str(pred)


def test_binary_key_pushdown_agreement(spark):
    """B-type (binary) key: equality/In pushdown to the Arrow scan
    agrees with the unpushed plan (SURVEY §1.2 binary key cell)."""
    import hashlib

    df_src = spark.createDataFrame(
        [(hashlib.md5(str(i).encode()).digest(), i, f"item{i}") for i in range(20)],
        "kb binary, id long, name string",
    )
    keyed_store.create_table(spark, df_src, "t_binkey", hash_key="kb", n_segments=2)
    want = [hashlib.md5(str(i).encode()).digest() for i in (3, 9)]
    pred_eq = F.col("kb") == want[0]
    pred_in = F.col("kb").isin(want)
    for pred, n in [(pred_eq, 1), (pred_in, 2)]:
        pushed = read_dynamo(spark, "t_binkey").filter(pred).collect()
        unpushed = (
            read_dynamo(spark, "t_binkey", filterPushdown="false").filter(pred).collect()
        )
        assert sorted(r.id for r in pushed) == sorted(r.id for r in unpushed)
        assert len(pushed) == n


def test_missing_table_raises_clearly(spark):
    with pytest.raises(Exception, match="(No such file|not exist|_meta)"):
        read_dynamo(spark, "no_such_table_xyz").collect()


def test_unknown_index_raises_clearly(spark, customer_kv):
    with pytest.raises(Exception, match="'t_customer_kv' has no index 'nope' \\(indexes: none\\)"):
        read_dynamo(spark, customer_kv, indexName="nope").collect()


def test_missing_tablename_option_raises(spark):
    from spark_dynamodb_spark.sources.dynamo import register

    register(spark)
    with pytest.raises(Exception, match="tableName"):
        spark.read.format("dynamo").load().collect()


def test_unknown_projection_column_raises(spark, customer_kv):
    with pytest.raises(Exception):
        read_dynamo(spark, customer_kv, columns="c_custkey,nope").collect()


def test_partial_update_preserves_large_ints(spark):
    """int64 values above 2^53 must survive a partial-column update
    bit-exactly: the pandas merge may not round-trip unmentioned (or
    skipped-null) integer attributes through float64 (code-review r2:
    combine_first promotes NaN-bearing columns and silently rounds
    snowflake-style ids)."""
    import math

    name = "t_bigint_upd"
    big = 9007199254740993  # 2^53 + 1: unrepresentable in float64
    ddl = "pk long, ref_id long, tag string, score double"
    base = spark.createDataFrame(
        [(1, big, "a", 0.5), (2, big + 2, "b", float("nan"))], ddl
    )
    keyed_store.create_table(spark, base, name, hash_key="pk", n_segments=1)
    # patch touches only `tag` for pk=1, and INSERTS pk=3 (forces NaN
    # alignment for ref_id on the new row)
    patch = spark.createDataFrame(
        [(1, "patched"), (3, "new")], "pk long, tag string"
    )
    write_dynamo(patch, name, update=True)
    rows = {r.pk: r for r in read_dynamo(spark, name).collect()}
    assert rows[1].ref_id == big  # exact, not 9007199254740992.0
    assert rows[2].ref_id == big + 2
    assert math.isnan(rows[2].score)  # a NaN is a value, not a null
    assert rows[1].tag == "patched" and rows[3].tag == "new"
    assert rows[3].ref_id is None
    # ref_id now holds a null (pk=3): later commits must still leave
    # every item they were not asked to change bit-identical
    write_dynamo(spark.createDataFrame([(4, big + 4, "put", 1.0)], ddl), name)
    write_dynamo(spark.createDataFrame([(3,)], "pk long"), name, delete=True)
    rows = {r.pk: r for r in read_dynamo(spark, name).collect()}
    assert set(rows) == {1, 2, 4}
    assert (rows[1].ref_id, rows[2].ref_id, rows[4].ref_id) == (big, big + 2, big + 4)
    assert math.isnan(rows[2].score) and rows[1].score == 0.5


def test_update_keeps_column_order(spark):
    """Base columns keep their order and staged-only ones follow: an
    update on a table stored as [tag, pk] must not move pk first."""
    name = "t_col_order"
    base = spark.createDataFrame([("a", 1), ("b", 2)], "tag string, pk long")
    keyed_store.create_table(spark, base, name, hash_key="pk", n_segments=2)
    assert read_dynamo(spark, name).columns == ["tag", "pk"]
    patch = spark.createDataFrame([(1, 7, "p")], "pk long, extra long, tag string")
    write_dynamo(patch, name, update=True)
    back = read_dynamo(spark, name)
    assert back.columns == ["tag", "pk", "extra"]
    assert sorted(map(tuple, back.collect())) == [("b", 2, None), ("p", 1, 7)]


def test_every_writer_stores_timestamps_as_micros(spark):
    """create_table, put and update all leave timestamp[us] in every
    data and GSI file — the unit Spark's Arrow ingestion takes, so the
    reader hands batches over without a cast."""
    import datetime as dt

    import pyarrow.parquet as pq

    name = "t_ts_micros"
    ddl = "pk long, kind string, ts timestamp"
    t0 = dt.datetime(2024, 1, 2, 3, 4, 5, 123456)
    keyed_store.create_table(
        spark, spark.createDataFrame([(1, "click", t0)], ddl), name,
        hash_key="pk", n_segments=2, gsis=[{"name": "by_kind", "hash_key": "kind"}],
    )

    def units() -> set:
        files = keyed_store.list_segments(keyed_store.DEFAULT_STORE_DIR, name)
        files += keyed_store.list_segments(keyed_store.DEFAULT_STORE_DIR, name, "by_kind")
        assert len(files) >= 2
        return {pq.read_schema(f).field("ts").type.unit for f in files}

    assert units() == {"us"}
    t1 = t0 + dt.timedelta(microseconds=1)
    write_dynamo(spark.createDataFrame([(2, "view", t1)], ddl), name)
    assert units() == {"us"}
    write_dynamo(spark.createDataFrame([(1, t1)], "pk long, ts timestamp"), name, update=True)
    assert units() == {"us"}
    rows = {r.pk: r for r in read_dynamo(spark, name).collect()}
    assert rows[1].ts == t1 and rows[1].kind == "click" and rows[2].ts == t1


def test_create_table_leaves_the_session_conf_as_it_found_it(spark):
    key = "spark.sql.parquet.outputTimestampType"
    spark.conf.unset(key)
    before = spark.conf.get(key)
    keyed_store.create_table(
        spark, spark.sql("SELECT 1L AS pk, current_timestamp() AS ts"), "t_conf_untouched",
        hash_key="pk", n_segments=1,
    )
    assert spark.conf.get(key) == before


def test_a_one_item_put_leaves_every_other_item_in_its_file(spark):
    """create_table and every commit place keys with one function: after
    a one-item put, each other item of the base and of the GSI is in the
    file of the same name as before."""
    import pyarrow.parquet as pq

    name = "t_stable_placement"
    ddl = "pk long, kind string, v string"
    rows = [(k, f"kind{k % 13}", f"v{k}") for k in range(2000)]
    keyed_store.create_table(
        spark, spark.createDataFrame(rows, ddl), name, hash_key="pk", n_segments=4,
        gsis=[{"name": "by_kind", "hash_key": "kind"}],
    )

    def placement(index=None) -> dict:
        return {
            pk: os.path.basename(f)
            for f in keyed_store.list_segments(keyed_store.DEFAULT_STORE_DIR, name, index)
            for pk in pq.read_table(f, columns=["pk"])["pk"].to_pylist()
        }

    before = {index: placement(index) for index in (None, "by_kind")}
    assert len(before[None]) == len(before["by_kind"]) == 2000
    write_dynamo(spark.createDataFrame([(5000, "kind3", "new")], ddl), name)
    for index, files in before.items():
        after = placement(index)
        assert after.pop(5000) and after == files


_TZ_PROBE = """
import sys

from spark_dynamodb_spark.session import get_spark
from spark_dynamodb_spark.sources import keyed_store, read_dynamo, write_dynamo

spark = get_spark("tz_probe", cpus=1)
store = sys.argv[1]
df = spark.sql("SELECT 1L AS pk, timestamp'2024-01-01 12:00:00' AS ts")
for name in ("t_tz_caller", "t_tz_spark"):
    keyed_store.create_table(spark, df, name, hash_key="pk", n_segments=1, store_dir=store)
batch = spark.sql("SELECT 2L AS pk, timestamp'2024-01-01 12:00:00' AS ts")
write_dynamo(batch, "t_tz_caller", storeDir=store)
batch.write.format("dynamo").mode("append").options(tableName="t_tz_spark", storeDir=store).save()
for name in ("t_tz_caller", "t_tz_spark"):
    for r in read_dynamo(spark, name, storeDir=store).selectExpr("pk", "unix_micros(ts)").collect():
        print(name, r[0], r[1])
spark.stop()
"""


def test_both_write_paths_keep_a_timestamp_off_utc(tmp_path):
    """With the process time zone off UTC and the session's at UTC,
    write_dynamo and df.write.format("dynamo") store the same instant as
    create_table (a Row → dict → Arrow round trip in the write tasks
    stored it shifted by the local offset)."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TZ": "America/New_York", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", _TZ_PROBE, str(tmp_path)], cwd=repo, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    noon = 1704110400000000  # 2024-01-01 12:00:00 UTC, in microseconds
    got = sorted(line.split() for line in out.stdout.splitlines() if line.startswith("t_tz_"))
    assert got == [[name, pk, str(noon)] for name in ("t_tz_caller", "t_tz_spark")
                   for pk in ("1", "2")]


def test_task_workers_skip_the_zip_reread_and_use_unix_sockets(spark):
    """A PythonRDD task that runs no connector code is forked by
    ``spark_dynamodb_spark.daemon``, so its zip archives are re-read only
    when they change, and it talks to the JVM over a Unix domain socket."""

    def probe(rows):
        import os
        import zipimport

        list(rows)
        yield (
            getattr(zipimport.zipimporter.invalidate_caches, "on_change", False),
            os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "").lower(),
        )

    assert spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect() == [
        (True, "true")
    ]


_FAR_PROBE = """
import glob
import os
import sys

sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F

from spark_dynamodb_spark.session import get_spark
from spark_dynamodb_spark.sources import keyed_store, read_dynamo, write_dynamo

spark = get_spark("far_probe", cpus=1)
store = sys.argv[2]
plus = F.udf(lambda v: v + 1, "long")
rows = spark.range(3).select(F.col("id").alias("pk"), plus("id").alias("v"))
keyed_store.create_table(spark, rows, "t_far", hash_key="pk", n_segments=2, store_dir=store)
write_dynamo(spark.range(3, 5).select(F.col("id").alias("pk"), plus("id").alias("v")),
             "t_far", storeDir=store)
for r in read_dynamo(spark, "t_far", storeDir=store).select("pk", plus("v")).collect():
    print("row", r[0], r[1])

# The Unix sockets this session holds: those bound by this process and its
# descendants (the JVM and the worker daemons it forked).
children = {}
for stat in glob.glob("/proc/[0-9]*/stat"):
    try:
        ppid = int(open(stat).read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError):
        continue
    children.setdefault(ppid, []).append(int(stat.split("/")[2]))
pids, inodes = [os.getpid()], set()
while pids:
    pid = pids.pop()
    pids += children.get(pid, [])
    for fd in glob.glob(f"/proc/{pid}/fd/*"):
        try:
            inodes.add(os.readlink(fd))
        except OSError:
            pass
sock_dir = spark.conf.get("spark.python.unix.domain.socket.dir")
print("dir", sock_dir)
print("accumulator", spark.sparkContext._accumulatorServer.server_address)
for line in list(open("/proc/net/unix"))[1:]:
    f = line.split()
    if len(f) > 7 and f"socket:[{f[6]}]" in inodes and f[7].startswith(sock_dir + "/"):
        print("sock", f[7])
spark.stop()
"""


def test_get_spark_runs_from_outside_the_repo_under_a_deep_tmpdir(tmp_path):
    """From a working directory outside the repo, with java.io.tmpdir
    deeper than a Unix socket path may be (108 bytes), a get_spark
    session writes, reads and runs a Python UDF: its worker daemon
    imports the package through spark.executorEnv.PYTHONPATH and its
    sockets live in the short spark.python.unix.domain.socket.dir, a
    directory only this user can enter even under umask 002. Every socket
    file the session held is gone once it ends."""
    import stat
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    deep = tmp_path / ("d" * 60) / ("t" * 60)
    deep.mkdir(parents=True)
    assert len(str(deep)) > 108
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        TMPDIR=str(deep),
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYSPARK_SUBMIT_ARGS=(
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={deep} pyspark-shell"
        ),
    )
    out = subprocess.run(
        [sys.executable, "-c", _FAR_PROBE, repo, str(tmp_path / "store")], cwd=tmp_path,
        env=env, capture_output=True, text=True, timeout=300, umask=0o002,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    said = [line.split(" ", 1) for line in out.stdout.splitlines()]
    got = sorted(rest.split() for word, rest in said if word == "row")
    assert got == [[str(pk), str(pk + 2)] for pk in range(5)]
    (sock_dir,) = [rest for word, rest in said if word == "dir"]
    (accumulator,) = [rest for word, rest in said if word == "accumulator"]
    socks = {rest for word, rest in said if word == "sock"}
    st = os.lstat(sock_dir)
    assert len(sock_dir) < 40 and stat.S_ISDIR(st.st_mode) and stat.S_IMODE(st.st_mode) == 0o700
    # the driver's accumulator server and at least one worker daemon
    assert accumulator in socks and len(socks) >= 2
    deadline = time.monotonic() + 10
    while any(map(os.path.exists, socks)) and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not [s for s in socks if os.path.exists(s)]


_EXIT_PROBE = """
import os
import sys

sys.path.insert(0, sys.argv[1])
from spark_dynamodb_spark.session import get_spark

spark = get_spark("exit_probe", cpus=1)
assert spark.sparkContext.parallelize([1, 2], 1).map(lambda v: v + 1).sum() == 5
accumulator = spark.sparkContext._accumulatorServer.server_address
print("accumulator", accumulator, os.path.exists(accumulator))
raise SystemExit(0)  # before spark.stop()
"""


def test_get_spark_driver_that_exits_without_stop_leaves_no_socket(tmp_path):
    """A get_spark driver that runs a Python job and exits without
    ``spark.stop()`` leaves no socket file in its socket dir: the
    accumulator server's is removed only by a stop, which get_spark
    registers to run at exit."""
    import subprocess
    import sys

    from spark_dynamodb_spark.session import socket_dir

    def socks() -> set:
        return {f for f in os.listdir(socket_dir()) if f.endswith(".sock")}

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    before = socks()
    out = subprocess.run(
        [sys.executable, "-c", _EXIT_PROBE, repo], cwd=tmp_path,
        env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"},
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    ((_, path, existed),) = [
        line.split() for line in out.stdout.splitlines() if line.startswith("accumulator ")
    ]
    assert path.startswith(socket_dir() + "/") and existed == "True"
    deadline = time.monotonic() + 10
    while socks() - before and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not socks() - before


def test_stream_reader_delivers_every_item_under_both_triggers(spark, sf_dir):
    """s18's source: a stream over the 8-segment events table delivers
    every item of the batch read, whether it is drained with
    processAllAvailable() or runs to its end under
    trigger(availableNow=True)."""
    import uuid

    from pyspark.sql import functions as F

    from spark_dynamodb_spark.sources import keyed_store, read_dynamo
    from spark_dynamodb_spark.sources.dynamo import register
    from spark_dynamodb_spark.sources.dynamo_queries import _ensure_events_kv

    table = _ensure_events_kv(spark, sf_dir)
    register(spark)

    def streamed_count(run) -> int:
        stream = (
            spark.readStream.format("dynamo")
            .option("tableName", table)
            .option("storeDir", keyed_store.DEFAULT_STORE_DIR)
            .load()
        )
        name = "s18t_" + uuid.uuid4().hex[:8]
        run(
            stream.groupBy().agg(F.count("*").alias("n"))
            .writeStream.format("memory").queryName(name).outputMode("complete")
        )
        return spark.table(name).collect()[0]["n"]

    def drain(writer) -> None:
        q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def available_now(writer) -> None:
        writer.trigger(availableNow=True).start().awaitTermination()

    batch_n = read_dynamo(spark, table).count()
    assert streamed_count(drain) == batch_n
    assert streamed_count(available_now) == batch_n


def test_transact_cancel_leaves_store_untouched(spark, sf_dir):
    """a24: a cancelled transactional batch must leave the store
    byte-identical AND clean up its staged files — a half-applied
    transaction or leaked staging would corrupt the next write."""
    import glob
    import hashlib

    name = "t_txn_cancel"
    base = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    keyed_store.create_table(spark, base, name, hash_key="r_regionkey", n_segments=2)
    store_dir = os.path.join(keyed_store.DEFAULT_STORE_DIR, name)

    def store_digest() -> str:
        h = hashlib.md5()
        for p in sorted(glob.glob(os.path.join(store_dir, "**", "*.parquet"), recursive=True)):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
        return h.hexdigest()

    before = store_digest()
    dirty = base.limit(2).select(
        "r_regionkey", F.lit("GARBAGE").alias("r_name")
    )
    with pytest.raises(TransactionCanceledException):
        write_dynamo(dirty, name, transactPutIfAbsent=True)
    assert store_digest() == before, "cancelled transaction mutated the store"
    assert not os.path.exists(os.path.join(store_dir, ".staged")), "staged residue survived the cancel"


def test_versioned_update_is_idempotent_per_expectation(spark, sf_dir):
    """a23: replaying the SAME versioned batch is a no-op the second
    time (the expectation no longer matches after the bump) — the
    retry-safety property optimistic locking exists to provide."""
    name = "t_verupd_idem"
    base = load_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name", F.lit(1).cast("int").alias("version")
    )
    keyed_store.create_table(spark, base, name, hash_key="r_regionkey", n_segments=2)
    upd = base.select(
        "r_regionkey",
        F.concat(F.lit("V2_"), F.col("r_name")).alias("r_name"),
        F.lit(1).cast("int").alias("version"),
    )
    write_dynamo(upd, name, versionedUpdate=True)
    first = read_dynamo(spark, name).orderBy("r_regionkey").collect()
    write_dynamo(upd, name, versionedUpdate=True)  # replay: all stale now
    second = read_dynamo(spark, name).orderBy("r_regionkey").collect()
    assert first == second
    assert all(r.version == 2 and r.r_name.startswith("V2_") for r in second)


def test_auto_prune_reads_only_required_columns(spark, sf_dir, customer_kv, monkeypatch, tmp_path):
    """A6 closure (VERDICT r4 #4): with_pruned_scans derives the scan
    projection from the analyzed plan — NO manual columns option — and
    the Arrow read sees only (key + referenced) columns."""
    import spark_dynamodb_spark.sources.dynamo as dyn
    from spark_dynamodb_spark.sources.pruning import with_pruned_scans

    probe = tmp_path / "cols_seen.txt"
    orig = dyn.DynamoReader.read

    def spy(self, partition):
        with open(probe, "a") as f:
            f.write(",".join(f2.name for f2 in self.schema_.fields) + "\n")
        return orig(self, partition)

    monkeypatch.setattr(dyn.DynamoReader, "read", spy)
    dyn.register(spark, force=True)  # re-pickle the patched class graph

    def build(read):
        return (
            read(customer_kv)
            .filter(F.col("c_acctbal") > 0)
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n"))
        )

    out = with_pruned_scans(spark, build)
    rows = {r.c_mktsegment: r.n for r in out.collect()}

    seen = {tuple(l.split(",")) for l in probe.read_text().splitlines()}
    assert seen == {("c_custkey", "c_acctbal", "c_mktsegment")}, seen

    monkeypatch.setattr(dyn.DynamoReader, "read", orig)
    dyn.register(spark, force=True)
    base = build(lambda t, **o: read_dynamo(spark, t, **o))
    assert rows == {r.c_mktsegment: r.n for r in base.collect()}


def test_auto_prune_self_join_falls_back_to_full_schema(spark, customer_kv):
    """Two scans of the same table keep distinct exprIds (two loads →
    two relations), so a self-join prunes EACH side independently and
    results match the unpruned plan."""
    from spark_dynamodb_spark.sources.pruning import with_pruned_scans

    def build(read):
        a = read(customer_kv).select("c_custkey", "c_nationkey")
        b = read(customer_kv).select(
            F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("bal")
        )
        return a.join(b, a.c_custkey == b.k).groupBy("c_nationkey").agg(
            F.count("*").alias("n")
        )

    pruned = with_pruned_scans(spark, build)
    base = build(lambda t, **o: read_dynamo(spark, t, **o))
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, base.collect()))


def test_auto_prune_respects_explicit_columns_option(spark, customer_kv):
    """An explicit columns option wins — with_pruned_scans must not
    second-guess a user projection (A6 manual path stays intact)."""
    from spark_dynamodb_spark.sources.pruning import with_pruned_scans

    def build(read):
        return read(customer_kv, columns="c_custkey,c_name").select("c_name")

    out = with_pruned_scans(spark, build)
    assert out.columns == ["c_name"]
    assert out.count() == read_dynamo(spark, customer_kv).count()


def test_auto_prune_random_query_shapes_preserve_results(
    spark, customer_kv, monkeypatch, tmp_path
):
    """Property: for a seeded family of random projection/filter/agg
    shapes, with_pruned_scans returns exactly the unpruned result and
    never widens the scan (pruned schema ⊆ full schema, keys always
    kept). The scan columns are recorded from the reader's read()
    (file-based: the reader runs in a separate pickled-by-value
    process, so in-memory spies never fire here)."""
    import random

    import spark_dynamodb_spark.sources.dynamo as dyn
    from spark_dynamodb_spark.sources.pruning import with_pruned_scans

    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    rng = random.Random(42)
    probe = tmp_path / "cols_seen.txt"
    orig = dyn.DynamoReader.read

    def spy(self, partition):
        with open(probe, "a") as f:
            f.write(",".join(f2.name for f2 in self.schema_.fields) + "\n")
        return orig(self, partition)

    def make_build(proj, filt_col, agg_col):
        def build(read):
            df = read(customer_kv)
            if filt_col is not None:
                df = df.filter(F.col(filt_col).isNotNull())
            if agg_col is not None:
                return df.groupBy(proj[0]).agg(F.count(agg_col).alias("n"))
            return df.select(*proj)

        return build

    for _ in range(8):
        proj = rng.sample(cols, rng.randint(1, 4))
        filt_col = rng.choice(cols + [None])
        agg_col = rng.choice([c for c in cols if c not in proj] + [None])
        build = make_build(proj, filt_col, agg_col)

        monkeypatch.setattr(dyn.DynamoReader, "read", spy)
        dyn.register(spark, force=True)  # re-pickle the patched class graph
        probe.write_text("")
        try:
            pruned = sorted(map(tuple, with_pruned_scans(spark, build).collect()))
            seen = {
                tuple(line.split(","))
                for line in probe.read_text().splitlines()
            }
        finally:
            monkeypatch.setattr(dyn.DynamoReader, "read", orig)
            dyn.register(spark, force=True)
        base = sorted(
            map(tuple, build(lambda t, **o: read_dynamo(spark, t, **o)).collect())
        )
        assert pruned == base, (proj, filt_col, agg_col)
        used = {proj[0], agg_col} if agg_col else set(proj)
        needed = used | {c for c in (filt_col,) if c} | {"c_custkey"}
        for got in seen:
            assert needed <= set(got) <= set(cols), (got, proj, filt_col, agg_col)


def test_cdc_replication_rerun_is_idempotent(spark, sf_dir):
    """s22: replaying the whole change feed into the same replica (a
    fresh checkpoint forces full re-delivery) must leave the replica
    unchanged — the retry-safety property of event_id-keyed puts."""
    from spark_dynamodb_spark.sources.dynamo_queries import dynamo_cdc_replication

    first = sorted(map(tuple, dynamo_cdc_replication(spark, sf_dir).collect()))
    second = sorted(map(tuple, dynamo_cdc_replication(spark, sf_dir).collect()))
    assert first == second


def test_consistent_read_doubles_rcu(spark, sf_dir):
    """a26: stronglyConsistentReads=true consumes 2x capacity units
    for the same bytes (DynamoDB consistent-read pricing); results
    identical. Pinned at the reader level: same rate + bytesPerRCU,
    the consistent scan must sleep ~2x longer."""
    name = "t_consistent_kv"
    keyed_store.create_table(
        spark,
        load_table(spark, sf_dir, "nation"),
        name,
        hash_key="n_nationkey",
        n_segments=1,
    )
    # identical results
    a = read_dynamo(spark, name).orderBy("n_nationkey").collect()
    b = (
        read_dynamo(spark, name, stronglyConsistentReads="true")
        .orderBy("n_nationkey")
        .collect()
    )
    assert a == b
    # capacity accounting: eventual ~3.5 units vs consistent ~7 units
    # at 1 unit/s (burst 1) → consistent sleeps ~2x longer.
    t0 = time.monotonic()
    read_dynamo(spark, name, throughput=1, bytesPerRCU=150).count()
    eventual = time.monotonic() - t0
    t0 = time.monotonic()
    read_dynamo(
        spark,
        name,
        throughput=1,
        bytesPerRCU=150,
        stronglyConsistentReads="true",
    ).count()
    consistent = time.monotonic() - t0
    assert consistent > eventual + 1.0


def _file_stats(root: str) -> dict:
    """{path: (inode, size)} of every file under ``root``."""
    stats = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            stats[os.path.join(d, f)] = (st.st_ino, st.st_size)
    return stats


def test_write_with_a_null_key_is_refused(spark):
    """An item without its hash key would make every later read fail in
    the JVM (the key column is non-nullable): the commit refuses it and
    the table stays readable and unchanged."""
    name = "t_null_key"
    ddl = "pk long, v string"
    keyed_store.create_table(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], ddl), name, hash_key="pk", n_segments=2
    )
    before = _file_stats(os.path.join(keyed_store.DEFAULT_STORE_DIR, name))
    with pytest.raises(ValueError, match="1 staged item\\(s\\) have no value for key 'pk'"):
        write_dynamo(spark.createDataFrame([(None, "x"), (3, "c")], ddl), name)
    assert _file_stats(os.path.join(keyed_store.DEFAULT_STORE_DIR, name)) == before
    assert sorted(read_dynamo(spark, name).collect()) == [(1, "a"), (2, "b")]


@pytest.mark.parametrize("null_key", ["pk", "rk"])
def test_create_table_refuses_a_null_key_and_keeps_the_old_table(spark, null_key):
    """create_table counts key nulls in the collected rows (one of them
    beside a long string, which Spark's parquet footers gave no count
    for) and refuses the table before writing any file."""
    name, ddl = "t_create_null_key", "pk long, rk string, v string"
    old = spark.createDataFrame([(1, "r", "a"), (2, "r", "b")], ddl)
    keyed_store.create_table(spark, old, name, hash_key="pk", range_key="rk", n_segments=1)
    tdir = os.path.join(keyed_store.DEFAULT_STORE_DIR, name)
    before = _file_stats(tdir)
    bad = [(3, "r" * 5000, "c"), (None, "r", "d") if null_key == "pk" else (4, None, "d")]
    with pytest.raises(ValueError, match=f"1 staged item\\(s\\) have no value for key '{null_key}'"):
        keyed_store.create_table(
            spark, spark.createDataFrame(bad, ddl), name, hash_key="pk", range_key="rk",
            n_segments=1,
        )
    assert _file_stats(tdir) == before
    assert not [d for d in os.listdir(keyed_store.DEFAULT_STORE_DIR) if d.startswith(name + ".")]
    assert sorted(r.v for r in read_dynamo(spark, name).collect()) == ["a", "b"]


def test_failed_write_job_leaves_the_store_and_no_staging(spark):
    """One task of the job that collects the batch fails: nothing is
    merged, every store file is kept and nothing is left staged."""
    name = "t_failed_job"
    ddl = "pk long, v string"
    keyed_store.create_table(
        spark, spark.createDataFrame([(k, f"v{k}") for k in range(4)], ddl), name,
        hash_key="pk", n_segments=2,
    )
    tdir = os.path.join(keyed_store.DEFAULT_STORE_DIR, name)
    before = _file_stats(tdir)
    batch = spark.createDataFrame([(k, f"w{k}") for k in range(8)], ddl).repartition(4).withColumn(
        "v", F.when(F.col("pk") == 3, F.raise_error(F.lit("boom"))).otherwise(F.col("v"))
    )
    with pytest.raises(Exception, match="boom"):
        write_dynamo(batch, name)
    assert _file_stats(tdir) == before
    assert not os.path.exists(os.path.join(tdir, ".staged"))


# One batch per write mode; the twin tables start from BASE_ROWS.
BASE_ROWS = [(k, "even" if k % 2 == 0 else "odd", 1, f"v{k}") for k in range(10)]
BATCHES = {
    "put": ("pk long, kind string, version long, val string",
            [(2, "odd", 5, "P2"), (11, "even", 1, "P11"), (2, "even", 6, "P2b")], {}),
    "update": ("pk long, val string", [(3, "U3"), (4, None), (12, "U12")], {"update": True}),
    "delete": ("pk long", [(1,), (6,), (42,)], {"delete": True}),
    "putIfAbsent": ("pk long, kind string, version long, val string",
                    [(5, "odd", 9, "clobber"), (13, "odd", 1, "new")], {"putIfAbsent": True}),
    "versionedUpdate": ("pk long, version long, val string",
                        [(7, 1, "V7"), (8, 0, "stale"), (14, 1, "absent")],
                        {"versionedUpdate": True}),
    "transactPutIfAbsent": ("pk long, kind string, version long, val string",
                            [(20, "even", 1, "T20"), (21, "odd", 1, "T21")],
                            {"transactPutIfAbsent": True}),
}


def _twins(spark, stem: str) -> tuple[str, str]:
    base = spark.createDataFrame(BASE_ROWS, "pk long, kind string, version long, val string")
    gsis = [{"name": "by_kind", "hash_key": "kind", "range_key": "pk"}]
    names = (f"{stem}_caller", f"{stem}_spark")
    for name in names:
        keyed_store.create_table(spark, base, name, hash_key="pk", gsis=gsis, n_segments=2)
    return names


def _spark_write(df, table: str, **options) -> None:
    """The Spark-driven batch path: planning runner, write tasks,
    commit runner."""
    w = df.write.format("dynamo").mode("append").options(
        tableName=table, storeDir=keyed_store.DEFAULT_STORE_DIR
    )
    w.options(**{k: str(v) for k, v in options.items()}).save()


@pytest.mark.parametrize("mode", list(BATCHES))
def test_both_write_paths_give_the_same_table(spark, mode):
    """write_dynamo (the batch collected with toArrow() and merged in the
    caller) and df.write.format("dynamo") (Spark's DataSource write:
    tasks return Arrow batches, a commit runner merges them) drive the same
    writer and commit the same table, base and GSI."""
    ddl, rows, options = BATCHES[mode]
    caller, via_spark = _twins(spark, f"t_twin_{mode.lower()}")
    before = sorted(read_dynamo(spark, caller).collect())
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, len(rows)), ddl)
    write_dynamo(df, caller, **options)
    _spark_write(df, via_spark, **options)
    for index in ({}, {"indexName": "by_kind"}):
        got = sorted(read_dynamo(spark, caller, **index).collect())
        assert got == sorted(read_dynamo(spark, via_spark, **index).collect())
        assert got != before
    if mode == "put":  # pk 2 repeats in two partitions (one per row): the later row wins
        assert read_dynamo(spark, caller).where("pk = 2").collect() == [(2, "even", 6, "P2b")]


def test_both_write_paths_refuse_a_conflicting_transaction(spark):
    caller, via_spark = _twins(spark, "t_twin_txn_conflict")
    dirs = [os.path.join(keyed_store.DEFAULT_STORE_DIR, t) for t in (caller, via_spark)]
    before = [_file_stats(d) for d in dirs]
    df = spark.createDataFrame([(30, "even", 1, "new"), (4, "even", 1, "clash")],
                               "pk long, kind string, version long, val string")
    with pytest.raises(TransactionCanceledException):
        write_dynamo(df, caller, transactPutIfAbsent=True)
    with pytest.raises(Exception, match="TransactionCanceledException"):
        _spark_write(df, via_spark, transactPutIfAbsent=True)
    assert [_file_stats(d) for d in dirs] == before
    assert not any(os.path.exists(os.path.join(d, ".staged")) for d in dirs)
