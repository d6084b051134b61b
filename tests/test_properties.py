"""Property-based tests (hypothesis) for the pure components: writer
merge semantics and the token bucket — beyond the reference's
example-based suite (SURVEY §5)."""

from __future__ import annotations

import pyarrow as pa
from hypothesis import given, settings, strategies as st

from spark_dynamodb_spark.sources.dynamo import merge
from spark_dynamodb_spark.sources.rate_limiter import TokenBucket, partition_rate

keys = st.integers(min_value=0, max_value=9)
vals = st.one_of(st.none(), st.integers(min_value=-100, max_value=100))
rows = st.lists(st.tuples(keys, vals, vals), max_size=12)


def _tbl(data, names=("pk", "a", "b")):
    return pa.table(
        {n: pa.array([r[i] for r in data], pa.int64()) for i, n in enumerate(names)}
    )


def _items(merged, names=("pk", "a", "b")) -> dict:
    """key -> the other attributes; a later row for a key wins."""
    return {r[names[0]]: tuple(r[n] for n in names[1:]) for r in merged.to_pylist()}


@settings(max_examples=200, deadline=None)
@given(base=rows, staged=rows)
def test_merge_put_replaces_whole_item(base, staged):
    merged = merge(_tbl(base), _tbl(staged), ["pk"], "put")
    expect: dict = {}
    for pk, a, b in base:
        expect[pk] = (a, b)
    for pk, a, b in staged:
        expect[pk] = (a, b)  # put = whole-item replace, last write wins
    assert merged.num_rows == len(expect)  # one item per key
    assert _items(merged) == expect


@settings(max_examples=200, deadline=None)
@given(base=rows, staged=rows)
def test_merge_update_skips_nulls(base, staged):
    merged = merge(_tbl(base), _tbl(staged), ["pk"], "update")
    expect: dict = {}
    for pk, a, b in base:
        expect[pk] = (a, b)
    # update mode dedups staged by key keep=last, then SETs non-nulls
    last: dict = {}
    for pk, a, b in staged:
        last[pk] = (a, b)
    for pk, (a, b) in last.items():
        olda, oldb = expect.get(pk, (None, None))
        expect[pk] = (a if a is not None else olda, b if b is not None else oldb)
    assert merged.num_rows == len(expect)  # one item per key
    assert _items(merged) == expect


@settings(max_examples=200, deadline=None)
@given(base=rows, staged=rows)
def test_merge_delete_removes_only_staged_keys(base, staged):
    merged = merge(_tbl(base), _tbl(staged), ["pk"], "delete")
    doomed = {pk for pk, _, _ in staged}
    # delete dedups nothing: every base row whose key isn't staged must
    # survive, all others must be gone.
    survivors = [pk for pk, _, _ in base if pk not in doomed]
    assert sorted(merged["pk"].to_pylist()) == sorted(survivors)


@settings(max_examples=50, deadline=None)
@given(
    rate=st.floats(min_value=0.5, max_value=1000),
    permits=st.lists(st.floats(min_value=0.01, max_value=5), max_size=8),
)
def test_token_bucket_never_negative_wait(rate, permits):
    bucket = TokenBucket(rate, burst=sum(permits) + 1)  # all within burst
    total_wait = sum(bucket.acquire(p) for p in permits)
    assert total_wait == 0.0  # burst absorbs everything


@settings(max_examples=100, deadline=None)
@given(
    target=st.floats(min_value=0, max_value=2),
    provisioned=st.floats(min_value=0, max_value=10000),
    n=st.integers(min_value=1, max_value=64),
)
def test_partition_rate_properties(target, provisioned, n):
    r = partition_rate(target, provisioned, n)
    assert r >= 0
    if target > 0 and provisioned > 0:
        # per-partition shares sum to ≈ the total budget (or the floor)
        assert r >= min(0.1, target * provisioned)
        assert r * n >= target * provisioned * 0.99 or r == 0.1


def test_driver_window_holds_exactly_50_unprefixed_names():
    """The driver's correctness gate records the first 50 registry
    names in lexical order. Every name beyond the 50 curated slots
    must be parked under x_/z_ (registry rotation sets) — a new
    @query registered without parking would silently push a checked
    entry out of the window."""
    from spark_dynamodb_spark.registry import load_all

    from spark_dynamodb_spark.registry import ROTATION_PENDING

    names = sorted(load_all().specs().keys())
    unprefixed = [n for n in names if not n.startswith(("x_", "z_", "zz_"))]
    assert len(unprefixed) <= 50, (
        f"{len(unprefixed)} unprefixed entries; park new queries in "
        f"ROTATION_PENDING. Extra: {unprefixed[50:] or 'n/a'}"
    )
    # under-filled windows waste driver slots: only allowed when there
    # is genuinely nothing left to pull in
    if ROTATION_PENDING:
        assert len(unprefixed) == 50, (
            f"window has {50 - len(unprefixed)} free slot(s) while "
            f"{sorted(ROTATION_PENDING)} sit parked — unpark to fill it"
        )
    # and the prefixes must sort AFTER every unprefixed name
    assert all(n < "x_" for n in unprefixed)


def test_chunk_overlap_geometry(spark, sf_dir):
    """c19: every chunk except a doc's last is exactly CHUNK_SIZE
    tokens; consecutive chunk starts differ by CHUNK_STRIDE; the last
    chunk reaches the document's end (coverage, no token dropped)."""
    from spark_dynamodb_spark.operators.text_analysis import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        chunk_overlap,
    )
    from spark_dynamodb_spark.functions.text import simple_tokens
    from spark_dynamodb_spark.tables import load_table
    from pyspark.sql import functions as F

    chunks = chunk_overlap(spark, sf_dir).collect()
    n_toks = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(simple_tokens("text")).alias("n"))
        .collect()
    }
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {d for d in n_toks}
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_id"])
        n = n_toks[doc_id]
        for r in rows[:-1]:
            assert r["chunk_len"] == CHUNK_SIZE, (doc_id, r)
        last = rows[-1]
        # last chunk must reach the end: start + len == n
        assert last["chunk_id"] * CHUNK_STRIDE + last["chunk_len"] == n, (
            doc_id,
            last,
            n,
        )


def test_global_ids_contiguous(spark, sf_dir):
    """c18: ids are a permutation of 1..N following the key order."""
    from spark_dynamodb_spark.operators.pipeline import global_ids

    rows = global_ids(spark, sf_dir).collect()
    assert [r["gid"] for r in rows] == list(range(1, len(rows) + 1))
    assert [r["doc_id"] for r in rows] == sorted(r["doc_id"] for r in rows)


def test_winnowing_shared_run_guarantee(spark):
    """c24: the winnowing guarantee (Schleimer et al. §2): any two
    documents sharing a token run of length >= K + W - 1 select at
    least one common fingerprint. 40 doc pairs with a shared 8-token
    run planted at varying positions inside otherwise-disjoint noise,
    plus control pairs with NO shared run that must (at these sizes)
    not collide."""
    import random

    from pyspark.sql import functions as F

    from spark_dynamodb_spark.operators.text_analysis import (
        WINNOW_K,
        WINNOW_W,
        _winnow_fps_from_khashes,
        _winnow_khashes,
    )

    rng = random.Random(42)
    run_len = WINNOW_K + WINNOW_W - 1
    rows = []
    for pid in range(40):
        shared = [f"s{pid}x{j}" for j in range(run_len)]
        for side in (0, 1):
            n_noise = rng.randint(run_len, 40)
            noise = [f"n{pid}_{side}_{j}" for j in range(n_noise)]
            pos = rng.randint(0, n_noise)
            toks = noise[:pos] + shared + noise[pos:]
            rows.append((pid, side, " ".join(toks)))
    df = spark.createDataFrame(rows, "pid int, side int, text string")
    fps = df.select(
        "pid", "side", _winnow_fps_from_khashes(_winnow_khashes("text")).alias("fps")
    )
    a = fps.filter("side = 0").select("pid", F.col("fps").alias("fa"))
    b = fps.filter("side = 1").select("pid", F.col("fps").alias("fb"))
    joined = a.join(b, "pid").select(
        "pid", F.arrays_overlap("fa", "fb").alias("hit")
    )
    misses = [r.pid for r in joined.collect() if not r.hit]
    assert not misses, f"winnowing guarantee violated for pairs {misses}"

    # control: disjoint-token pairs share nothing
    c_a = fps.filter("side = 0 AND pid < 20").select(
        F.col("pid").alias("pa"), F.col("fps").alias("fa")
    )
    c_b = fps.filter("side = 1 AND pid >= 20").select(
        F.col("pid").alias("pb"), F.col("fps").alias("fb")
    )
    cross_hits = (
        c_a.crossJoin(c_b)
        .filter(F.arrays_overlap("fa", "fb"))
        .count()
    )
    assert cross_hits == 0, "unrelated docs share fingerprints"


def test_peak_concurrency_bucketed_equals_global(spark, sf_dir):
    """b84: the day-bucketed two-phase prefix sum must equal the naive
    global single-partition sweep — the rewrite is a pure plan
    optimization, including sessions crossing midnight."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from spark_dynamodb_spark.operators.analytics import (
        B84_SESSION_US,
        peak_concurrency,
    )
    from spark_dynamodb_spark.tables import load_table

    e = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("t")
    )
    pts = e.select("event_id", "t", F.lit(1).alias("delta")).unionAll(
        e.select(
            "event_id",
            (F.col("t") + F.lit(B84_SESSION_US)).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    w = W.orderBy("t", "delta", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    naive = (
        pts.withColumn("running", F.sum("delta").over(w))
        .groupBy(F.timestamp_micros("t").cast("date").alias("day"))
        .agg(F.max("running").alias("peak_concurrency"))
        .orderBy("day")
        .collect()
    )
    bucketed = peak_concurrency(spark, sf_dir).collect()
    assert [tuple(r) for r in bucketed] == [tuple(r) for r in naive]


def test_exact_median_matches_duckdb_median(spark, sf_dir):
    """b88: the rank-selection formula must agree with DuckDB's native
    MEDIAN on the same data (the native function is avoided in the
    oracle only for bit-level interpolation portability; the VALUES
    must still agree to float tolerance)."""
    import duckdb

    from spark_dynamodb_spark.operators.analytics import grouped_exact_median
    from spark_dynamodb_spark.tables import table_path

    got = {
        r["c_mktsegment"]: r["median_price"]
        for r in grouped_exact_median(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"""
            SELECT c_mktsegment, median(o_totalprice)
            FROM read_parquet('{table_path(sf_dir, "orders")}') o
            JOIN read_parquet('{table_path(sf_dir, "customer")}') c
              ON o_custkey = c_custkey
            GROUP BY c_mktsegment
            """
        ).fetchall()
    )
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])


def test_feature_hash_embeddings_unit_norm(spark, sf_dir):
    """c44: every non-zero embedding must be unit-L2 (up to the
    declared rounding) — the normalization actually normalizes."""
    from spark_dynamodb_spark.operators.curation import (
        FH_DIM,
        feature_hash_embedding,
    )

    rows = feature_hash_embedding(spark, sf_dir).collect()
    assert rows
    for r in rows:
        dims = [r[f"f{i}"] for i in range(FH_DIM)]
        if all(d is None for d in dims):
            continue  # zero vector (nrm 0) — allowed
        norm2 = sum(d * d for d in dims)
        assert abs(norm2 - 1.0) < 1e-4, (r["doc_id"], norm2)


def test_ann_recall_eval_bounds_and_ground_truth_size(spark, sf_dir):
    """c42: recall ∈ [0,1], n_exact = TOP_K for every query, and the
    fixture's near-identical planted dups keep mean recall > 0."""
    from spark_dynamodb_spark.operators.similarity import TOP_K, ann_recall_eval

    rows = ann_recall_eval(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_exact"] == TOP_K
        assert 0.0 <= r["recall"] <= 1.0
    assert sum(r["recall"] for r in rows) > 0


# --- round-4 additions: versioned update + new operator invariants ---------


@settings(max_examples=200, deadline=None)
@given(
    base=st.lists(
        st.tuples(st.integers(0, 9), st.integers(1, 3), st.integers(0, 50)),
        unique_by=lambda r: r[0],
        max_size=8,
    ),
    staged=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 4), st.integers(51, 99)),
        unique_by=lambda r: r[0],
        max_size=8,
    ),
)
def test_merge_versioned_update_optimistic_locking(base, staged):
    """a23 invariants: a staged row applies iff its expected version
    equals the store's; winners bump the version by one; stale rows
    and absent keys change nothing."""
    names = ("pk", "version", "val")
    merged = merge(
        _tbl(base, names), _tbl(staged, names), ["pk"], "versioned_update", "version"
    )
    cur = {pk: (v, val) for pk, v, val in base}
    for pk, expected, val in staged:
        if pk in cur and cur[pk][0] == expected:
            cur[pk] = (expected + 1, val)
    assert _items(merged, names) == cur


def test_interval_merge_islands_disjoint(spark, sf_dir):
    """b101: merged spans per user must be disjoint AND ordered — the
    defining property of interval coalescing."""
    from spark_dynamodb_spark.operators import analytics as an

    pdf = an.interval_merge(spark, sf_dir).toPandas()
    for _, g in pdf.groupby("user_id"):
        g = g.sort_values("island")
        prev_end = None
        for r in g.itertuples():
            assert r.start_us <= r.end_us
            if prev_end is not None:
                assert r.start_us > prev_end  # disjoint, strictly after
            prev_end = r.end_us


def test_running_distinct_monotone_and_bounded(spark, sf_dir):
    """b99: per user the running distinct count is non-decreasing,
    steps by at most 1, and ends at the true distinct count."""
    from spark_dynamodb_spark.operators import windows as wi
    from spark_dynamodb_spark.tables import load_table

    pdf = wi.running_distinct_count(spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events").toPandas()
    truth = ev.groupby("user_id")["event_type"].nunique()
    for uid, g in pdf.groupby("user_id"):
        vals = g["distinct_so_far"].tolist()  # already (ts, event_id)-ordered
        assert vals[0] == 1
        assert all(0 <= b - a <= 1 for a, b in zip(vals, vals[1:]))
        assert vals[-1] == truth[uid]


def test_pq_error_nonnegative_and_codes_in_range(spark, sf_dir):
    """c56: reconstruction error >= 0 and codes within [0, K)."""
    from spark_dynamodb_spark.operators import similarity as sim

    pdf = sim.product_quantization(spark, sf_dir).toPandas()
    assert (pdf["quant_err"] >= 0).all()
    assert pdf["code0"].between(0, sim.PQ_K - 1).all()
    assert pdf["code1"].between(0, sim.PQ_K - 1).all()
    assert len(pdf) == pdf["vec_id"].nunique()


def test_balanced_shards_spread_bounded(spark, sf_dir):
    """c60: LPT round-robin guarantee — shard char totals differ by at
    most the largest document; every doc lands somewhere."""
    from spark_dynamodb_spark.operators import pipeline as pl
    from spark_dynamodb_spark.tables import load_table

    pdf = pl.balanced_shards(spark, sf_dir).toPandas()
    docs = load_table(spark, sf_dir, "documents").toPandas()
    assert pdf["n_docs"].sum() == len(docs)
    assert pdf["total_chars"].sum() == docs["n_chars"].sum()
    spread = pdf["total_chars"].max() - pdf["total_chars"].min()
    assert spread <= docs["n_chars"].max()


def test_weighted_sample_favors_long_docs(spark, sf_dir):
    """c58: the length-weighted sample's mean doc length must beat the
    corpus mean (the point of weighting), and each source yields
    exactly K rows (or all docs if fewer)."""
    from spark_dynamodb_spark.operators import pipeline as pl
    from spark_dynamodb_spark.tables import load_table

    pdf = pl.weighted_sample(spark, sf_dir).toPandas()
    docs = load_table(spark, sf_dir, "documents").toPandas()
    per_source = docs.groupby("source").size()
    for src, g in pdf.groupby("source"):
        assert len(g) == min(pl.C58_K, per_source[src])
    assert pdf["weight"].mean() > docs["n_chars"].mean()


def test_fuzzy_join_full_recall_on_corrupted_names(spark, sf_dir):
    """b111: every corrupted name (custkey % 3 == 0) must match back
    to its source customer — deletion-neighborhood blocking has full
    recall at edit distance 1 by construction."""
    from spark_dynamodb_spark.operators import joins as jo
    from spark_dynamodb_spark.tables import load_table

    pdf = jo.fuzzy_join(spark, sf_dir).toPandas()
    cust = load_table(spark, sf_dir, "customer").toPandas()
    expected_pairs = set(cust["c_custkey"] + 0)  # every key matches itself
    got = set(zip(pdf["c_custkey"], pdf["r_id"]))
    for k in cust["c_custkey"]:
        assert (k, k + 1000000) in got, f"lost pair for custkey {k}"


def test_triangle_clustering_coefficient_bounds(spark, sf_dir):
    """b113: 0 <= 3*triangles <= wedges (every triangle closes three
    wedges; a wedge closes at most one triangle)."""
    from spark_dynamodb_spark.operators import analytics as an

    row = an.triangle_count(spark, sf_dir).collect()[0]
    assert row.n_triangles >= 0
    assert 3 * row.n_triangles <= row.n_wedges
    assert row.n_wedges >= row.n_edges - row.n_nodes  # connected-ish graph


def test_temporal_join_never_leaks_future_versions(spark, sf_dir):
    """b110: the matched version's validity interval must CONTAIN the
    ship date — no future or past dimension state leaks through."""
    from spark_dynamodb_spark.operators import mutations as mu

    iv = mu.scd2_intervals(spark, sf_dir).toPandas()
    out = mu.temporal_scd2_join(spark, sf_dir).toPandas()
    matched = out[out["pit_version"].notna()]
    key = iv.set_index(["custkey", "version"])
    sample = matched.sample(n=min(500, len(matched)), random_state=7)
    for r in sample.itertuples():
        rec = key.loc[(r.custkey, int(r.pit_version))]
        assert rec["eff_from"] <= r.ship_ts < rec["eff_to"]


# --- KMV merge algebra (c102/c103/s23) --------------------------------------

def _kmv(values, k=8):
    """Reference KMV sketch: the k smallest distinct values."""
    return sorted(set(values))[:k]


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.lists(st.integers(min_value=0, max_value=1 << 60), max_size=40),
             min_size=1, max_size=6)
)
def test_kmv_merge_associativity(shards):
    """The property every KMV consumer rests on (c102's two-phase
    build, c103's union sketch, s23's incremental stream merge): the
    k smallest of a union equal the k smallest of the union of each
    shard's k smallest — in ANY grouping/order of shards."""
    full = _kmv([v for sh in shards for v in sh])
    # shard-then-merge (c102 phase 1 -> phase 2)
    merged = _kmv([v for sh in shards for v in _kmv(sh)])
    assert merged == full
    # left-fold incremental arrival (s23's foreachBatch state merge)
    state: list[int] = []
    for sh in shards:
        state = _kmv(state + _kmv(sh))
    assert state == full


# --- SimHash block-permuted completeness (c108) ------------------------------

@settings(max_examples=300, deadline=None)
@given(
    st.integers(min_value=0, max_value=(1 << 60) - 1),
    st.sets(st.integers(min_value=0, max_value=59), max_size=3),
)
def test_simhash_pigeonhole_completeness(fingerprint, flipped_bits):
    """c108's recall claim is structural: any pair within hamming
    distance 3 of 60-bit fingerprints shares at least one of the four
    15-bit chunks exactly (3 flips cannot touch 4 chunks), so the
    chunk equi-join NEVER misses a pair at the threshold."""
    other = fingerprint
    for b in flipped_bits:
        other ^= 1 << b
    chunks_a = [(fingerprint >> (15 * i)) & 0x7FFF for i in range(4)]
    chunks_b = [(other >> (15 * i)) & 0x7FFF for i in range(4)]
    assert any(a == b for a, b in zip(chunks_a, chunks_b))


@settings(max_examples=60, deadline=None)
@given(
    payload=st.binary(min_size=1, max_size=2000),
    interval=st.integers(min_value=0, max_value=9),
)
def test_jpeg_roundtrip_property(payload, interval):
    """Any payload, any restart interval (0 = no DRI): the decoded
    luma blocks must invert the packing byte-exactly, and the DRI
    stream must decode identically to the marker-free one."""
    from spark_dynamodb_spark.functions import codecs

    j = codecs.encode_jpeg(payload, restart_interval=interval)
    img = codecs.decode_jpeg(j)
    assert codecs.jpeg_payload_bytes(img, len(payload)) == payload
    if interval:
        plain = codecs.decode_jpeg(codecs.encode_jpeg(payload))
        assert img["planes"] == plain["planes"]


@settings(max_examples=60, deadline=None)
@given(payload=st.binary(min_size=1, max_size=4000))
def test_flac_roundtrip_property(payload):
    """Any payload: the full subframe-mode cycle (constant, verbatim,
    fixed 1-3, LPC) must reproduce the samples bit-exactly — enforced
    doubly, by the payload inversion and by the decoder's own
    STREAMINFO-MD5 check (which raises on any mismatch)."""
    from spark_dynamodb_spark.functions import codecs

    d = codecs.decode_flac(codecs.encode_flac(payload))
    assert d["md5_verified"]
    assert codecs.wav_payload_bytes(d["sample_data"]) == payload


@settings(max_examples=40, deadline=None)
@given(
    payload=st.binary(min_size=1, max_size=1500),
    fps=st.integers(min_value=1, max_value=60),
)
def test_avi_mjpeg_roundtrip_property(payload, fps):
    """Any payload, any frame rate: the AVI container walk + idx1
    cross-check + per-frame JPEG decode must invert the frame packing
    byte-exactly, with the declared geometry (constant 64x80 frames,
    ceil(n/64) frames, rate/scale fps) holding for every size —
    including the zero-padded final frame."""
    from spark_dynamodb_spark.functions import codecs

    v = codecs.decode_avi_mjpeg(codecs.encode_avi_mjpeg(payload, fps=fps))
    assert (v["width"], v["height"]) == (64, 80)
    assert v["fps"] == fps
    assert v["n_frames"] == -(-len(payload) // codecs.AVI_FRAME_PAYLOAD)
    rec = b"".join(
        codecs.avi_frame_payload_bytes(v, i, len(payload))
        for i in range(v["n_frames"])
    )
    assert rec == payload


@settings(max_examples=60, deadline=None)
@given(payload=st.binary(min_size=1, max_size=6000))
def test_gif_roundtrip_property(payload):
    """Any payload: the LZW protocol (variable width, clear/EOI,
    KwKwK, dictionary reset at 4096) must invert the pixel packing
    byte-exactly under the LSB-first bit order."""
    from spark_dynamodb_spark.functions import codecs

    d = codecs.decode_gif(codecs.encode_gif(payload))
    assert d["pixel_data"][: len(payload)] == payload
    assert set(d["pixel_data"][len(payload):]) <= {0}
    assert d["gray"]
    assert d["width"] == codecs.GIF_WIDTH
    assert d["height"] == -(-len(payload) // codecs.GIF_WIDTH)


@settings(max_examples=60, deadline=None)
@given(payload=st.binary(min_size=1, max_size=6000))
def test_tiff_roundtrip_property(payload):
    """Any payload: the IFD walk + multi-strip layout + early-change
    MSB-first LZW must invert the pixel packing byte-exactly."""
    from spark_dynamodb_spark.functions import codecs

    t = codecs.decode_tiff_lzw(codecs.encode_tiff_lzw(payload))
    assert t["pixel_data"][: len(payload)] == payload
    assert set(t["pixel_data"][len(payload):]) <= {0}
    assert t["width"] == codecs.TIFF_WIDTH
    assert t["height"] == -(-len(payload) // codecs.TIFF_WIDTH)
    assert t["n_strips"] == -(-t["height"] // 8)


@settings(max_examples=60, deadline=None)
@given(payload=st.binary(min_size=1, max_size=4000))
def test_bmp_rle8_roundtrip_property(payload):
    """Any payload: the mixed run/absolute/1-run encoding must invert
    byte-exactly through the bottom-up row order."""
    from spark_dynamodb_spark.functions import codecs

    d = codecs.decode_bmp_rle8(codecs.encode_bmp_rle8(payload))
    assert d["pixel_data"][: len(payload)] == payload
    assert set(d["pixel_data"][len(payload):]) <= {0}
    assert d["gray"]
    assert d["height"] == -(-len(payload) // 32)
