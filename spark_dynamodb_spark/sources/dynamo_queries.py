"""Registry queries exercising the dynamo source — SURVEY §2 B2 + Part A.

Each query materializes a keyed store from the driver's parquet
fixtures (cached per sf_dir under .scratch/dynamo), reads it back via
``spark.read.format("dynamo")``, and is oracle-checked against plain
SQL on the original table — the round-trip pattern the reference's
DynamoDB-Local test harness uses (SURVEY §5).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_dynamodb_spark.registry import query
from spark_dynamodb_spark.sources import keyed_store, read_dynamo, write_dynamo
from spark_dynamodb_spark.tables import EVENTS_TS_SQL, EVENTS_TS_US_SQL, load_table


def _sf_tag(sf_dir: str) -> str:
    return hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]


def _ensure_customer_kv(spark: SparkSession, sf_dir: str) -> str:
    """customer table keyed by c_custkey (FIXTURES.md M2 fixture)."""
    name = f"customer_kv_{_sf_tag(sf_dir)}"
    if not os.path.exists(keyed_store.meta_path(keyed_store.DEFAULT_STORE_DIR, name)):
        keyed_store.create_table(
            spark,
            load_table(spark, sf_dir, "customer"),
            name,
            hash_key="c_custkey",
            n_segments=8,
        )
    return name


def _ensure_events_kv(spark: SparkSession, sf_dir: str) -> str:
    """events keyed by (user_id, ts) with a GSI on event_type."""
    name = f"events_kv_{_sf_tag(sf_dir)}"
    if not os.path.exists(keyed_store.meta_path(keyed_store.DEFAULT_STORE_DIR, name)):
        keyed_store.create_table(
            spark,
            load_table(spark, sf_dir, "events"),
            name,
            hash_key="user_id",
            range_key="ts",
            gsis=[{"name": "by_type", "hash_key": "event_type", "range_key": "ts"}],
            n_segments=8,
        )
    return name


def _ensure_lineitem_kv(spark: SparkSession, sf_dir: str) -> str:
    """lineitem keyed by (l_orderkey, l_linenumber) — the fact-scale
    scan target (600k rows at sf0.1)."""
    name = f"lineitem_kv_{_sf_tag(sf_dir)}"
    if not os.path.exists(keyed_store.meta_path(keyed_store.DEFAULT_STORE_DIR, name)):
        keyed_store.create_table(
            spark,
            load_table(spark, sf_dir, "lineitem"),
            name,
            hash_key="l_orderkey",
            range_key="l_linenumber",
            n_segments=16,
        )
    return name


@query(
    "a04_dynamo_scan_fact",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def dynamo_scan_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 at fact scale: full segmented Arrow scan of the lineitem
    store feeding a hash aggregate — the connector's throughput path
    (within ~20% of a native JVM parquet scan locally; the reference's
    DynamoDB scan is network/RCU-bound far below either)."""
    table = _ensure_lineitem_kv(spark, sf_dir)
    df = read_dynamo(spark, table)
    return (
        df.groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(28,6)")).cast("double").alias("sum_qty"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "a04_dynamo_scan",
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
)
def dynamo_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2/A4: full segmented scan through the dynamo source, schema
    inferred by sampling — must round-trip identically to the parquet
    original."""
    table = _ensure_customer_kv(spark, sf_dir)
    return read_dynamo(spark, table).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


@query(
    "a07_dynamo_pushdown",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_acctbal > 1000.0 AND c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
      AND starts_with(c_name, 'Customer#')
    """,
)
def dynamo_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: pushdown-eligible predicates evaluated inside the source
    (pyarrow scan filter ≙ DynamoDB condition expression)."""
    table = _ensure_customer_kv(spark, sf_dir)
    df = read_dynamo(spark, table)
    return df.filter(
        (F.col("c_acctbal") > 1000.0)
        & F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING")
        & F.col("c_name").startswith("Customer#")
    ).select("c_custkey", "c_name", "c_acctbal")


@query(
    "a06_dynamo_projection",
    "SELECT c_custkey, c_mktsegment FROM customer",
)
def dynamo_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: projection pushdown via the columns option (the Python DS
    API has no prune hook — SURVEY §4.1 column-pruning row)."""
    table = _ensure_customer_kv(spark, sf_dir)
    return read_dynamo(spark, table, columns="c_custkey,c_mktsegment")


@query(
    "a06_auto_prune",
    """
    SELECT c_mktsegment, count(*) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS sum_bal
    FROM customer
    WHERE c_acctbal > 0
    GROUP BY c_mktsegment
    """,
)
def dynamo_auto_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 companion (VERDICT r4 ask #4): automatic column pruning with
    NO manual ``columns`` option — ``with_pruned_scans`` derives the
    scan's required columns from the analyzed plan (exprId-exact) and
    re-reads with the derived projection, recovering the reference's
    automatic ``ProjectionExpression`` behavior (reconstructed
    ``DynamoScanBuilder``; SURVEY §4.1).  The Arrow scan reads
    (c_custkey, c_acctbal, c_mktsegment), not the 5-column table —
    asserted by tests/test_dynamo_source.py::test_auto_prune."""
    from spark_dynamodb_spark.functions.exact import dsum
    from spark_dynamodb_spark.sources.pruning import with_pruned_scans

    table = _ensure_customer_kv(spark, sf_dir)

    def build(read):
        return (
            read(table)
            .filter(F.col("c_acctbal") > 0)
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_cust"),
                dsum("c_acctbal", "sum_bal"),
            )
        )

    return with_pruned_scans(spark, build)


@query(
    "a05_dynamo_gsi",
    f"""
    WITH e AS (SELECT event_id, user_id, event_type, value,
                      {EVENTS_TS_SQL} AS ts FROM events)
    SELECT event_id, user_id, event_type, value
    FROM e
    WHERE event_type = 'purchase'
    """,
)
def dynamo_gsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: read through the by_type GSI with a hash-key predicate —
    the access path a DynamoDB Query on the index would take."""
    table = _ensure_events_kv(spark, sf_dir)
    df = read_dynamo(spark, table, indexName="by_type")
    return df.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "event_type", "value"
    )


def _ensure_part_binkey_kv(spark: SparkSession, sf_dir: str) -> str:
    """part keyed by a BINARY hash key (md5 digest bytes of the part
    key) — the DynamoDB B-type key cell of SURVEY §1.2."""
    name = f"part_binkey_kv_{_sf_tag(sf_dir)}"
    if not os.path.exists(keyed_store.meta_path(keyed_store.DEFAULT_STORE_DIR, name)):
        src = load_table(spark, sf_dir, "part").select(
            F.unhex(F.md5(F.col("p_partkey").cast("string"))).alias("pk_b"),
            "p_partkey",
            "p_name",
            "p_retailprice",
        )
        keyed_store.create_table(spark, src, name, hash_key="pk_b", n_segments=4)
    return name


@query(
    "a09_dynamo_binary_key",
    """
    SELECT md5(CAST(p_partkey AS VARCHAR)) AS pk_hex, p_partkey, p_name
    FROM part
    WHERE p_partkey IN (7, 42, 1999)
    """,
)
def dynamo_binary_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/A10: binary (B-type) hash key through the source — point
    lookups push an In() filter with raw byte values down to the
    Arrow scan (≙ DynamoDB BatchGetItem on B keys). The checked
    output hex-encodes the key (binary output cells stringify
    differently across pandas materializations)."""
    import hashlib

    table = _ensure_part_binkey_kv(spark, sf_dir)
    want = [hashlib.md5(str(k).encode()).digest() for k in (7, 42, 1999)]
    df = read_dynamo(spark, table)
    return df.filter(F.col("pk_b").isin(want)).select(
        F.lower(F.hex("pk_b")).alias("pk_hex"), "p_partkey", "p_name"
    )


@query(
    "a11_dynamo_write_put",
    """
    SELECT n_nationkey, upper(n_name) AS n_name_u, n_regionkey * 10 AS rk10
    FROM nation
    """,
)
def dynamo_write_put(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: put-mode write → read-back round trip (our DynamoDB-Local
    analog). Recreated every run: create empty-shaped store, write
    computed rows, read back."""
    src = load_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        F.upper("n_name").alias("n_name_u"),
        (F.col("n_regionkey") * 10).alias("rk10"),
    )
    name = f"nation_put_{_sf_tag(sf_dir)}"
    keyed_store.create_table(
        spark, src.limit(0), name, hash_key="n_nationkey", n_segments=2
    )
    write_dynamo(src, name)
    return read_dynamo(spark, name)


@query(
    "a12_dynamo_write_update",
    """
    SELECT n_nationkey, n_name,
           CASE WHEN n_nationkey % 2 = 0 THEN -1 ELSE n_regionkey END AS n_regionkey
    FROM nation
    """,
)
def dynamo_write_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: update-mode write — null attributes are skipped (SET
    semantics): even-keyed rows get n_regionkey=-1, n_name arrives
    null in the update batch and must survive from the base item."""
    base = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    name = f"nation_upd_{_sf_tag(sf_dir)}"
    keyed_store.create_table(spark, base, name, hash_key="n_nationkey", n_segments=2)
    updates = base.filter(F.col("n_nationkey") % 2 == 0).select(
        "n_nationkey",
        F.lit(None).cast("string").alias("n_name"),  # skipped, keeps base value
        F.lit(-1).cast("int").alias("n_regionkey"),
    )
    write_dynamo(updates, name, update=True)
    return read_dynamo(spark, name)


@query(
    "a13_dynamo_write_delete",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_regionkey <> 0",
)
def dynamo_write_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: delete-mode write — delete region-0 nations by key, read
    back the rest (anti-join semantics)."""
    base = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    name = f"nation_del_{_sf_tag(sf_dir)}"
    keyed_store.create_table(spark, base, name, hash_key="n_nationkey", n_segments=2)
    doomed = base.filter(F.col("n_regionkey") == 0)
    write_dynamo(doomed, name, delete=True)
    return read_dynamo(spark, name)


@query(
    "a18_dynamo_ttl_scan",
    f"""
    WITH e AS (SELECT event_id, user_id, event_type, value,
                      {EVENTS_TS_US_SQL} AS t FROM events)
    SELECT event_id, user_id, event_type, value
    FROM e
    WHERE t + 864000000000 >= 1706140800000000
    ORDER BY event_id
    """,
)
def dynamo_ttl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18: TTL-aware scan — DynamoDB expires items whose TTL
    attribute (epoch seconds) has passed, and expired-but-not-yet-
    deleted items are expected to be filtered client-side (AWS
    documents lazy TTL deletion; reference parity: SURVEY §1.1 item
    model — TTL is a reserved numeric attribute, the connector
    surfaces it as a plain column). Here the TTL is derived: each
    event lives 10 days past its ts; the scan keeps items alive at a
    FIXED reference instant (2024-01-25 00:00:00 UTC — constant, for
    determinism; a live connector would use the request time).

    Scale shape: the TTL predicate is a pushdown-eligible numeric
    comparison — it prunes inside the source scan exactly like A7's
    conditions; nothing expired crosses the wire.
    """
    table = _ensure_events_kv(spark, sf_dir)
    df = read_dynamo(spark, table)
    ttl_us = F.unix_micros("ts") + F.lit(10 * 24 * 3600 * 1_000_000)
    ref_us = F.lit(1706140800000000)  # 2024-01-25 00:00:00 UTC in µs
    return (
        df.filter(ttl_us >= ref_us)
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    )


@query(
    "a19_dynamo_conditional_put",
    """
    SELECT n_nationkey,
           n_name,
           n_regionkey
    FROM nation
    UNION ALL
    SELECT n_nationkey + 100 AS n_nationkey,
           'NEW_' || n_name AS n_name,
           n_regionkey
    FROM nation WHERE n_nationkey % 2 = 0
    ORDER BY n_nationkey
    """,
)
def dynamo_conditional_put(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19: conditional put (attribute_not_exists) — the idempotent-
    backfill write: a staged batch that COLLIDES with half the
    existing keys (same key, garbage values) and also carries new
    keys. Put-if-absent must keep every existing item byte-identical
    and insert only the new keys — the oracle's UNION of untouched
    base + new rows proves both halves. DynamoDB spelling:
    PutItem with ConditionExpression attribute_not_exists(pk);
    batch semantics here are skip-on-conflict.
    """
    base = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    name = f"nation_condput_{_sf_tag(sf_dir)}"
    keyed_store.create_table(spark, base, name, hash_key="n_nationkey", n_segments=2)
    evens = base.filter(F.col("n_nationkey") % 2 == 0)
    staged = evens.select(
        F.col("n_nationkey"),  # colliding keys: must NOT overwrite
        F.lit("GARBAGE").alias("n_name"),
        F.lit(-99).cast("int").alias("n_regionkey"),
    ).unionAll(
        evens.select(
            (F.col("n_nationkey") + 100).alias("n_nationkey"),  # new keys
            F.concat(F.lit("NEW_"), F.col("n_name")).alias("n_name"),
            F.col("n_regionkey"),
        )
    )
    write_dynamo(staged, name, putIfAbsent=True)
    return read_dynamo(spark, name).orderBy("n_nationkey")


@query(
    "s18_dynamo_stream_read",
    f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def dynamo_stream_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s18: STREAMING read from the dynamo source — the DynamoDB
    Streams analog the reference never shipped (SURVEY §1.1 "no
    streams"). DynamoSimpleStreamReader exposes the keyed store's
    segment files as a change feed: one segment per micro-batch,
    offsets {{files_done: n}} in Spark's offset log (exactly-once on
    recovery via readBetweenOffsets replay). Downstream is an
    ordinary stateful aggregate — per-type counts and exact-decimal
    value sums accumulated across ALL micro-batches must equal the
    batch rollup of the same table (the oracle). (count DISTINCT is
    unsupported on streams — the approx_count_distinct path is s-side
    standard; the exact-decimal sum proves cross-batch accumulation
    instead.)

    Scale shape: in production the offsets are real shard iterators
    and segments arrive forever; here the feed exhausts after 8
    segments and processAllAvailable() drains it.
    """
    from spark_dynamodb_spark.sources.dynamo import register

    table = _ensure_events_kv(spark, sf_dir)
    register(spark)
    stream = (
        spark.readStream.format("dynamo")
        .option("tableName", table)
        .option("storeDir", keyed_store.DEFAULT_STORE_DIR)
        .load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(28,6)"))
        .cast("double")
        .alias("total_value"),
    )
    import uuid as _uuid

    name = "s18_" + _uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()  # drains all 8 segments
    finally:
        q.stop()
    return spark.table(name).orderBy("event_type")


@query(
    "s19_dynamo_stream_sink",
    f"""
    WITH e AS (SELECT user_id, value, {EVENTS_TS_US_SQL} AS t, event_id
               FROM events),
    latest AS (
      SELECT user_id, value AS last_value
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                         ORDER BY t DESC, event_id DESC) AS rn
            FROM e)
      WHERE rn = 1
    ),
    counts AS (SELECT user_id, count(*) AS n_events FROM e GROUP BY user_id)
    SELECT user_id, n_events, last_value
    FROM counts JOIN latest USING (user_id)
    ORDER BY user_id
    """,
)
def dynamo_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s19: streaming SINK on the dynamo source — a per-user running
    aggregate written with ``writeStream.format("dynamo")`` in
    complete mode: each micro-batch's state upserts into the keyed store
    through the same staged-write + driver-merge commit as the batch
    writer (retried batches re-merge idempotently). The oracle reads the final store
    content back: one item per user carrying the event count and the
    LAST event's value (max_by over the full history) — the
    materialized-view-in-a-KV-table pattern the reference's users
    build with BatchWriteItem by hand.

    Scale shape: the stateful agg shuffles once per batch by user;
    the sink writes only that batch's updated keys.
    """
    import uuid as _uuid

    from spark_dynamodb_spark.sources.dynamo import register
    from spark_dynamodb_spark.streaming.stream_queries import events_stream

    register(spark)
    sink_table = f"events_sink_{_sf_tag(sf_dir)}"
    # fresh sink store each run (the oracle describes the final state)
    src = load_table(spark, sf_dir, "events").select(
        F.col("user_id"),
        F.lit(0).cast("long").alias("n_events"),
        F.lit(0.0).alias("last_value"),
    )
    keyed_store.create_table(
        spark, src.limit(0), sink_table, hash_key="user_id", n_segments=2
    )
    agg = (
        events_stream(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.expr("max_by(value, struct(ts, event_id))").alias("last_value"),
        )
    )
    import tempfile, os, hashlib, shutil

    ckpt = os.path.join(
        tempfile.gettempdir(),
        "s19_ckpt_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        agg.writeStream.format("dynamo")
        .option("tableName", sink_table)
        .option("storeDir", keyed_store.DEFAULT_STORE_DIR)
        .option("checkpointLocation", ckpt)
        .outputMode("complete")  # Python DS sinks take append/complete;
        # complete + put-replace is the idempotent upsert spelling
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        read_dynamo(spark, sink_table)
        .select("user_id", "n_events", "last_value")
        .orderBy("user_id")
    )


@query(
    "a22_dynamo_json_export",
    """
    SELECT c_custkey,
           c_name,
           c_nationkey,
           c_acctbal,
           c_mktsegment,
           '{"c_custkey":{"N":"' || CAST(c_custkey AS VARCHAR)
             || '"},"c_name":{"S":"' || c_name
             || '"},"c_nationkey":{"N":"' || CAST(c_nationkey AS VARCHAR)
             || '"},"c_acctbal":{"N":"' || CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR)
             || '"},"c_mktsegment":{"S":"' || c_mktsegment || '"}}'
             AS item_json
    FROM customer
    ORDER BY c_custkey
    """,
)
def dynamo_json_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A22: DynamoDB-JSON item marshalling round trip — serialize each
    row to the AWS wire format (attribute-value descriptors: {"S":},
    {"N": } with numbers as strings) via a REAL JSON writer
    (to_json over a typed descriptor struct), then UNMARSHAL it back
    with from_json + the descriptor schema and emit the recovered
    typed columns next to the JSON text. This is the item<->row
    conversion surface at the core of the reference connector
    (SURVEY §1.2 TypeConversion — DynamoDB items ARE this JSON), here
    as an export/import format usable with `aws dynamodb batch-write-
    item`.

    Exactness: N-values are formatted from DECIMAL(18,2), not double —
    decimal-to-string is identical in both engines while shortest-
    round-trip double printing is not guaranteed to be. The oracle
    builds the same wire text by concatenation (the fixture strings
    are JSON-clean; Jackson would escape, concat wouldn't, so the
    clean-string invariant is what makes the two spellings equal).

    Scale shape: fully narrow — marshal, parse, and project run
    row-local inside codegen + one Jackson pass; no shuffle, no UDF.
    """
    cust = load_table(spark, sf_dir, "customer")
    item = F.struct(
        F.struct(F.col("c_custkey").cast("string").alias("N")).alias("c_custkey"),
        F.struct(F.col("c_name").alias("S")).alias("c_name"),
        F.struct(F.col("c_nationkey").cast("string").alias("N")).alias("c_nationkey"),
        F.struct(
            F.col("c_acctbal").cast("decimal(18,2)").cast("string").alias("N")
        ).alias("c_acctbal"),
        F.struct(F.col("c_mktsegment").alias("S")).alias("c_mktsegment"),
    )
    marshalled = cust.select(F.to_json(item).alias("item_json"))
    ddb_schema = (
        "struct<"
        "c_custkey:struct<N:string>,"
        "c_name:struct<S:string>,"
        "c_nationkey:struct<N:string>,"
        "c_acctbal:struct<N:string>,"
        "c_mktsegment:struct<S:string>>"
    )
    parsed = marshalled.select(
        F.from_json("item_json", ddb_schema).alias("it"), "item_json"
    )
    return parsed.select(
        F.col("it.c_custkey.N").cast("bigint").alias("c_custkey"),
        F.col("it.c_name.S").alias("c_name"),
        F.col("it.c_nationkey.N").cast("int").alias("c_nationkey"),
        F.col("it.c_acctbal.N").cast("double").alias("c_acctbal"),
        F.col("it.c_mktsegment.S").alias("c_mktsegment"),
        "item_json",
    ).orderBy("c_custkey")


@query(
    "a23_dynamo_versioned_update",
    """
    SELECT n_nationkey,
           CASE WHEN n_nationkey % 2 = 0 THEN 'V2_' || n_name ELSE n_name END
             AS n_name,
           n_regionkey,
           CASE WHEN n_nationkey % 2 = 0 THEN 2 ELSE 1 END AS version
    FROM nation
    ORDER BY n_nationkey
    """,
)
def dynamo_versioned_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A23: optimistic-locking update — every item carries a version
    attribute; an update names the version it expects and only applies
    (bumping the version) when the store still holds that version
    (DynamoDB: UpdateItem with ConditionExpression ``version =
    :expected``). The batch here stages a VALID update for every even
    key (expected=1, renames) and a STALE update for every odd key
    (expected=9): the read-back must show even keys at version 2 with
    the new name and untouched n_regionkey (partial update keeps
    unmentioned attrs), odd keys byte-identical at version 1 — the
    lost-update protection a concurrent CDC/backfill writer needs.
    """
    base = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey", F.lit(1).cast("int").alias("version")
    )
    name = f"nation_verupd_{_sf_tag(sf_dir)}"
    keyed_store.create_table(spark, base, name, hash_key="n_nationkey", n_segments=2)
    valid = base.filter(F.col("n_nationkey") % 2 == 0).select(
        "n_nationkey",
        F.concat(F.lit("V2_"), F.col("n_name")).alias("n_name"),
        F.lit(1).cast("int").alias("version"),  # expected (current) version
    )
    stale = base.filter(F.col("n_nationkey") % 2 == 1).select(
        "n_nationkey",
        F.lit("STALE").alias("n_name"),
        F.lit(9).cast("int").alias("version"),  # nobody is at version 9
    )
    write_dynamo(valid.unionAll(stale), name, versionedUpdate=True)
    return read_dynamo(spark, name).select(
        "n_nationkey", "n_name", "n_regionkey", "version"
    ).orderBy("n_nationkey")


@query(
    "a24_dynamo_transact_write",
    """
    SELECT r_regionkey, r_name
    FROM region
    UNION ALL
    SELECT r_regionkey + 100 AS r_regionkey, 'TXN_' || r_name AS r_name
    FROM region
    ORDER BY r_regionkey
    """,
)
def dynamo_transact_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A24: TransactWriteItems all-or-nothing batch — every item in
    the batch carries attribute_not_exists(pk); one conflict cancels
    the ENTIRE transaction (DynamoDB TransactionCanceledException),
    unlike A19's per-item skip. Proven both ways: a conflicting batch
    (fresh keys + one existing key) must raise and leave the store
    byte-identical; a clean all-new batch must apply atomically. The
    oracle is base + the clean batch only.
    """
    from spark_dynamodb_spark.sources.dynamo import TransactionCanceledException

    base = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    name = f"region_txn_{_sf_tag(sf_dir)}"
    keyed_store.create_table(spark, base, name, hash_key="r_regionkey", n_segments=2)
    dirty = base.select(
        (F.col("r_regionkey") + 100).alias("r_regionkey"),
        F.concat(F.lit("TXN_"), F.col("r_name")).alias("r_name"),
    ).unionAll(
        base.limit(1).select(  # one colliding key cancels everything
            "r_regionkey", F.lit("GARBAGE").alias("r_name")
        )
    )
    try:
        write_dynamo(dirty, name, transactPutIfAbsent=True)
        raise AssertionError("conflicting transactional batch must cancel")
    except Exception as exc:  # Py4J wraps the driver-side raise
        if "TransactionCanceled" not in str(exc) and not isinstance(
            exc, TransactionCanceledException
        ):
            raise
    clean = base.select(
        (F.col("r_regionkey") + 100).alias("r_regionkey"),
        F.concat(F.lit("TXN_"), F.col("r_name")).alias("r_name"),
    )
    write_dynamo(clean, name, transactPutIfAbsent=True)
    return read_dynamo(spark, name).select("r_regionkey", "r_name").orderBy(
        "r_regionkey"
    )


@query(
    "s21_dynamo_stream_enrich",
    """
    SELECT coalesce(c_mktsegment, 'UNKNOWN') AS tier,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM events LEFT JOIN customer ON user_id = c_custkey
    GROUP BY tier
    ORDER BY tier
    """,
)
def dynamo_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s21: the dynamo change feed COMPOSED with the relational
    surface — s18's streaming source left-joined to a static customer
    dimension per micro-batch (s08's enrichment shape), proving the
    Python DS streaming reader is a first-class stream input, not an
    isolated demo. The static side is re-read per batch (dim updates
    surface mid-stream) and broadcast by AQE; the streamed side never
    re-shuffles for the join; the stateful rollup accumulates across
    all 8 segment micro-batches and must equal the batch LEFT JOIN
    (the oracle).

    Scale shape: change-feed partitions map to shards; the join is
    stream-side-narrow + broadcast dim; state is group-sized
    (tier cardinality).
    """
    from spark_dynamodb_spark.sources.dynamo import register
    from spark_dynamodb_spark.tables import load_table

    table = _ensure_events_kv(spark, sf_dir)
    register(spark)
    stream = (
        spark.readStream.format("dynamo")
        .option("tableName", table)
        .option("storeDir", keyed_store.DEFAULT_STORE_DIR)
        .load()
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = stream.join(cust, stream.user_id == cust.c_custkey, "left")
    agg = enriched.groupBy(
        F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("tier")
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(28,6)"))
        .cast("double")
        .alias("total_value"),
    )
    import uuid as _uuid

    name = "s21_" + _uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).orderBy("tier")


@query(
    "s22_dynamo_cdc_replication",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def dynamo_cdc_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s22: end-to-end CDC replication — the s18 streaming SOURCE piped
    straight into the s19 streaming SINK: the change feed of one keyed
    table is replayed micro-batch by micro-batch into a second keyed
    table (append mode, one segment ≙ one GetRecords page per batch),
    and the REPLICA is then read back and aggregated. Green means the
    copy is lossless: per-type counts and exact-decimal value sums
    over the replica equal the batch rollup of the SOURCE table (the
    oracle never looks at the replica). The cross-region-replication /
    table-migration pattern DynamoDB users build with Streams+Lambda.

    The replica is keyed by event_id (globally unique) so the put-
    merge is collision-free; retried batches re-put the same items —
    effectively-once, same as s19.

    Scale shape: each micro-batch moves one shard-page of rows; the
    sink stages and merges only that batch's keys; nothing
    accumulates driver-side and no state store is needed at all
    (stateless passthrough query).
    """
    import hashlib as _hashlib
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    from spark_dynamodb_spark.sources.dynamo import register

    source_table = _ensure_events_kv(spark, sf_dir)
    register(spark)
    replica = f"events_replica_{_sf_tag(sf_dir)}"
    src_schema = load_table(spark, sf_dir, "events")
    keyed_store.create_table(
        spark, src_schema.limit(0), replica, hash_key="event_id", n_segments=2
    )
    stream = (
        spark.readStream.format("dynamo")
        .option("tableName", source_table)
        .option("storeDir", keyed_store.DEFAULT_STORE_DIR)
        .load()
    )
    ckpt = _os.path.join(
        _tempfile.gettempdir(),
        "s22_ckpt_" + _hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    _shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        stream.writeStream.format("dynamo")
        .option("tableName", replica)
        .option("storeDir", keyed_store.DEFAULT_STORE_DIR)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        # drain all 8 source segments (availableNow stops after the
        # simple reader's FIRST prefetched span — s18 discipline)
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        read_dynamo(spark, replica)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


@query(
    "a25_dynamo_pushdown_toggle",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_acctbal > 1000.0 AND c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
      AND starts_with(c_name, 'Customer#')
    """,
)
def dynamo_pushdown_toggle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 companion: the same predicate set as a07_dynamo_pushdown
    with option('filterPushdown', 'false') — the reference connector's
    escape hatch for filter expressions DynamoDB evaluates
    incorrectly or expensively. pushFilters yields every predicate
    back as a residual, the source scans unfiltered, and Spark
    re-evaluates the full predicate post-scan; the RESULT must be
    byte-identical to the pushed-down plan (same oracle as a07), only
    the scan width changes. Proves pushdown is a pure optimization,
    never a semantics change.
    """
    table = _ensure_customer_kv(spark, sf_dir)
    df = read_dynamo(spark, table, filterPushdown="false")
    return df.filter(
        (F.col("c_acctbal") > 1000.0)
        & F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING")
        & F.col("c_name").startswith("Customer#")
    ).select("c_custkey", "c_name", "c_acctbal")


@query(
    "a26_dynamo_consistent_read",
    "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_acctbal > 5000.0",
)
def dynamo_consistent_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/A16 companion: option('stronglyConsistentReads', 'true') —
    results are identical to the default eventually consistent scan
    (the local store has no replication lag to observe), but the
    read-side token bucket accounts 2x RCU per byte, mirroring
    DynamoDB's consistent-read capacity pricing (1 RCU per 4 KB vs
    per 8 KB). The capacity doubling itself is pinned by a unit test
    on the reader (tests/test_dynamo_source.py)."""
    table = _ensure_customer_kv(spark, sf_dir)
    df = read_dynamo(spark, table, stronglyConsistentReads="true")
    return df.filter(F.col("c_acctbal") > 5000.0).select(
        "c_custkey", "c_name", "c_acctbal"
    )
