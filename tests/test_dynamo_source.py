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


def test_jsonl_schemaless_inference(spark, tmp_path):
    """Heterogeneous documents: schema = sampled union of attributes;
    missing attribute → null; numeric widening long→double (A3/§1.2)."""
    tdir = tmp_path / "docs_kv" / "data"
    tdir.mkdir(parents=True)
    docs = [
        {"pk": 1, "name": "a", "qty": 5},
        {"pk": 2, "name": "b", "price": 1.5, "tags": ["x", "y"]},
        {"pk": 3, "qty": 2.5, "meta": {"k": 1}},
    ]
    with open(tdir / "seg-0.jsonl", "w") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")
    keyed_store.write_meta(
        str(tmp_path),
        "docs_kv",
        {
            "table": "docs_kv",
            "hash_key": "pk",
            "range_key": None,
            "rcu": 0,
            "wcu": 0,
            "gsis": [],
            "format": "jsonl",
            "n_segments": 1,
        },
    )
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
    tdir = tmp_path / "tv_kv" / "data"
    tdir.mkdir(parents=True)
    docs = [
        {"pk": 1, "qty": 5},
        {"pk": 2, "qty": 7},
        {"pk": 3},  # qty missing → NULL: excluded by qty != 5 AND NOT(qty > 6)
    ]
    with open(tdir / "seg-0.jsonl", "w") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")
    keyed_store.write_meta(
        str(tmp_path),
        "tv_kv",
        {
            "table": "tv_kv",
            "hash_key": "pk",
            "range_key": None,
            "rcu": 0,
            "wcu": 0,
            "gsis": [],
            "format": "jsonl",
            "n_segments": 1,
        },
    )
    for pred, want in [
        (F.col("qty") != 5, [2]),
        (~(F.col("qty") > 6), [1]),
        (F.col("qty").isNull(), [3]),
        (~F.col("qty").isNull() & (F.col("qty") != 7), [1]),
    ]:
        pushed = read_dynamo(spark, "tv_kv", storeDir=str(tmp_path)).filter(pred)
        unpushed = read_dynamo(
            spark, "tv_kv", storeDir=str(tmp_path), filterPushdown="false"
        ).filter(pred)
        assert sorted(r.pk for r in pushed.collect()) == want, str(pred)
        assert sorted(r.pk for r in unpushed.collect()) == want, str(pred)


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


def test_eval_doc_unhandled_filter_fails_closed():
    """_eval_doc must raise on a pushed-filter type it does not
    handle, never default to keep-the-row (pushed filters are not
    re-evaluated by Spark)."""
    import pytest as _pytest
    from pyspark.sql.datasource import EqualNullSafe

    from spark_dynamodb_spark.sources.dynamo import _eval_doc

    with _pytest.raises(ValueError, match="unhandled pushed filter"):
        _eval_doc(EqualNullSafe(("x",), 1), {"x": 1})


def test_stream_reader_consumes_one_segment_per_batch(spark, sf_dir):
    """s18: the dynamo streaming source must consume the table
    INCREMENTALLY (8 segments → several data micro-batches; the
    prefetcher may coalesce some), and the streamed rollup equals the
    batch read of the same table."""
    import uuid

    from pyspark.sql import functions as F

    from spark_dynamodb_spark.sources import keyed_store, read_dynamo
    from spark_dynamodb_spark.sources.dynamo import register
    from spark_dynamodb_spark.sources.dynamo_queries import _ensure_events_kv

    table = _ensure_events_kv(spark, sf_dir)
    register(spark)
    stream = (
        spark.readStream.format("dynamo")
        .option("tableName", table)
        .option("storeDir", keyed_store.DEFAULT_STORE_DIR)
        .load()
    )
    agg = stream.groupBy().agg(F.count("*").alias("n"))
    name = "s18t_" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()
    data_batches = [p for p in progress if p["numInputRows"] > 0]
    # the driver-side prefetcher may coalesce adjacent read() results
    # into one planned batch, so "8 segments" ⇒ *several* batches, not
    # necessarily exactly 8 — multi-batch incremental consumption is
    # the property under test
    assert len(data_batches) >= 4, [p["numInputRows"] for p in progress]
    streamed_n = spark.table(name).collect()[0]["n"]
    batch_n = read_dynamo(spark, table).count()
    assert streamed_n == batch_n


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
    with pytest.raises(Exception, match="TransactionCanceled|batch rejected"):
        write_dynamo(dirty, name, transactPutIfAbsent=True)
    assert store_digest() == before, "cancelled transaction mutated the store"
    staged = glob.glob(os.path.join(store_dir, ".staged", "*"))
    assert staged == [], f"staged residue survived the cancel: {staged}"


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
