"""Semantic tests for the LLM-pipeline operators (SURVEY §2 Part C) —
properties the oracle can't express."""

from __future__ import annotations

import pytest

from spark_dynamodb_spark.operators import dedup, multimodal, similarity


def test_minhash_equals_exact_at_fixture_dup_level(spark, sf_dir):
    """LSH candidates must recover every pair the exact method finds
    (valid at the fixture's J≈0.98 duplicate level)."""
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    assert lsh == exact
    assert len(exact) > 0  # fixture has planted near-dups


@pytest.mark.parametrize("seed", [3, 4, 5, 6])
def test_minhash_equals_its_oracle_on_benchmark_corpora(spark, tmp_path, seed):
    """c02 equals its exact-Jaccard oracle on the benchmark's seeded
    corpora (perfbench.datagen, only read here), whose one-word-swapped
    near copies sit at J 0.8-0.9: 8x4 banding missed 1-4 of their pairs
    at these seeds."""
    import duckdb

    from perfbench import datagen

    path = datagen.write_sources(seed, str(tmp_path), ["documents"])["documents"]
    got = {
        (r.doc_a, r.doc_b, round(r.jaccard, 6))
        for r in dedup.dedup_minhash_lsh(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    want = {
        (a, b, round(float(j), 6))
        for a, b, j in con.execute(dedup.SQL_EXACT_JACCARD_PAIRS).fetchall()
    }
    assert got == want
    assert min(j for _, _, j in want) < 0.9  # pairs near the threshold are present


def test_minhash_band_rows_sql_spelling(spark, sf_dir):
    """The round-15 selectExpr spelling of minhash_band_rows (SQL
    strings, built once at import to kill ~1.3 s of py4j plan-
    construction per call) must emit EXACTLY the rows of the original
    Column-by-Column build — same mixes, same band keys."""
    from pyspark.sql import functions as F

    from spark_dynamodb_spark.operators import dedup
    from spark_dynamodb_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    hashed = dedup._shingle_arrays(docs).select(
        "doc_id",
        F.array_distinct(
            F.transform("sharr", lambda s: F.xxhash64(s))
        ).alias("harr"),
    ).localCheckpoint(eager=True)

    new = dedup.minhash_band_rows(hashed)

    # the pre-r15 Column spelling, inlined verbatim
    sig = hashed.select(
        "doc_id",
        *[
            F.array_min(F.transform("harr", dedup._minhash_mix(i))).alias(f"h{i}")
            for i in range(dedup.N_HASHES)
        ],
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[
                    F.col(f"h{b * dedup.ROWS_PER_BAND + r}")
                    for r in range(dedup.ROWS_PER_BAND)
                ]
            ).alias("key"),
        )
        for b in range(dedup.N_BANDS)
    ]
    old = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_lsh_ann_recall_vs_bruteforce(spark, sf_dir):
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_cosine_topk(spark, sf_dir).collect()
    }
    bucketed = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_lsh_bucketed(spark, sf_dir).collect()
    }
    recall = len(brute & bucketed) / len(brute)
    assert recall >= 0.5, f"LSH recall {recall:.2f} too low"


def test_ivf_ann_recall_vs_bruteforce(spark, sf_dir):
    """IVF with nprobe=6/16 prunes ~62% of the corpus per query; its
    recall must beat the random-probe floor (6/16 = 0.375) clearly —
    the coarse quantizer has to be capturing real structure."""
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_cosine_topk(spark, sf_dir).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_ivf(spark, sf_dir).collect()
    }
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.45, f"IVF recall {recall:.2f} below gate"


def test_simhash_near_dups_are_hamming_close(spark, sf_dir):
    """Planted near-dup pairs must have closer simhashes than random
    pairs on average."""
    sims = {r.doc_id: r.simhash for r in dedup.dedup_simhash(spark, sf_dir).collect()}
    pairs = [
        (r.doc_a, r.doc_b) for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    ]
    assert pairs

    def hamming(a, b):
        return bin(a ^ b).count("1")

    dup_dist = sum(hamming(sims[a], sims[b]) for a, b in pairs) / len(pairs)
    ids = sorted(sims)[:40]
    rand_pairs = [(ids[i], ids[j]) for i in range(len(ids)) for j in range(i + 1, len(ids))]
    rand_dist = sum(hamming(sims[a], sims[b]) for a, b in rand_pairs) / len(rand_pairs)
    assert dup_dist < rand_dist / 2


def test_bmp_codec_roundtrip():
    """Real BMP parse: header fields + byte-exact payload recovery
    through bottom-up row order and stride padding."""
    from spark_dynamodb_spark.functions import codecs

    for payload in (b"", b"x", b"hello world" * 37, bytes(range(256))):
        bmp = codecs.encode_bmp(payload, width=5)  # stride 15→16: padding real
        img = codecs.decode_bmp(bmp)
        assert img["width"] == 5 and img["bpp"] == 24
        assert img["file_size"] == len(bmp)
        assert img["pixel_data"][: len(payload)] == payload
    with pytest.raises(ValueError):
        codecs.decode_bmp(b"PNG\x00 not a bmp at all........" * 3)


def test_bmp_topdown_variant_parses():
    """Negative-height (top-down) BMPs — the other legal row order."""
    import struct

    from spark_dynamodb_spark.functions import codecs

    payload = bytes(range(60))
    bmp = bytearray(codecs.encode_bmp(payload, width=5))
    img0 = codecs.decode_bmp(bytes(bmp))
    # flip to top-down: negate height and reverse the stored rows
    stride = (5 * 3 + 3) // 4 * 4
    height = img0["height"]
    struct.pack_into("<i", bmp, 22, -height)
    rows = [
        bytes(bmp[54 + r * stride : 54 + (r + 1) * stride]) for r in range(height)
    ]
    bmp[54:] = b"".join(reversed(rows))
    img1 = codecs.decode_bmp(bytes(bmp))
    assert img1["pixel_data"] == img0["pixel_data"]


def test_wav_codec_roundtrip_and_chunk_walk():
    from spark_dynamodb_spark.functions import codecs

    payload = b"the quick brown fox" * 11
    wav = codecs.encode_wav(payload, sample_rate=16000)
    meta = codecs.decode_wav(wav)
    assert meta["sample_rate"] == 16000 and meta["n_channels"] == 1
    assert meta["n_samples"] == len(payload)
    assert meta["duration_ms"] == len(payload) * 1000 // 16000
    assert codecs.wav_payload_bytes(meta["sample_data"]) == payload
    # chunk walking survives an extra LIST chunk before data
    extra = wav[:12] + b"LIST\x04\x00\x00\x00INFO" + wav[12:]
    assert codecs.decode_wav(extra)["n_samples"] == len(payload)
    with pytest.raises(ValueError):
        codecs.decode_wav(b"no riff here" * 4)


def test_compressed_formats_still_raise():
    """JPEG/PNG/non-PCM need real codec libs — explicit, not silent."""
    import struct

    from spark_dynamodb_spark.functions import codecs

    bmp = bytearray(codecs.encode_bmp(b"abc"))
    struct.pack_into("<H", bmp, 28, 8)  # claim 8bpp
    with pytest.raises(NotImplementedError):
        codecs.decode_bmp(bytes(bmp))
    wav = bytearray(codecs.encode_wav(b"abc"))
    struct.pack_into("<H", wav, 20, 85)  # claim MP3 format tag
    with pytest.raises(NotImplementedError):
        codecs.decode_wav(bytes(wav))


def test_components_merge_transitive_chain(spark, tmp_path):
    """A~B and B~C must land in ONE component even when J(A,C) < 0.8 —
    the property pair-level dedup cannot express and the reason the
    components op exists. The chain forces >= 2 label-propagation
    iterations (C's label reaches A's min only through B)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_dynamodb_spark.operators.dedup import dedup_components

    # 40-word base; B shares 30 words with A and 30 with C; A and C
    # share only 20 — with 3-shingles J(A,B), J(B,C) > 0.8 needs near
    # identity, so build B = A with a small tail edit and C = B with
    # another small tail edit; A vs C differ by both edits.
    base = [f"w{i}" for i in range(60)]
    a = " ".join(base)
    b = " ".join(base[:-3] + ["xb1", "xb2", "xb3"])
    c = " ".join(base[:-6] + ["xc1", "xc2", "xc3"] + ["xb1", "xb2", "xb3"])
    # unrelated doc: its own singleton component
    d = " ".join(f"q{i}" for i in range(60))
    docs = pa.table(
        {
            "doc_id": pa.array([1, 2, 3, 4], pa.int64()),
            "text": pa.array([a, b, c, d], pa.string()),
            "lang": pa.array(["en"] * 4, pa.string()),
            "source": pa.array(["t"] * 4, pa.string()),
            "n_chars": pa.array([len(a), len(b), len(c), len(d)], pa.int64()),
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: (r["component_id"], r["group_size"], r["is_canonical"])
        for r in dedup_components(spark, str(tmp_path)).collect()
    }
    assert out[1] == (1, 3, True)
    assert out[2] == (1, 3, False)
    assert out[3] == (1, 3, False)  # reaches 1 only through 2
    assert out[4] == (4, 1, True)


def test_sequence_packing_invariants(spark, sf_dir):
    """Packing is lossless and bounded: offsets stay inside the
    budget, pack ids are monotone within a source shard, and the
    prefix arithmetic accounts for every token."""
    from spark_dynamodb_spark.operators.pipeline import PACK_BUDGET, sequence_packing

    rows = sequence_packing(spark, sf_dir).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    assert len(by_source) > 1  # per-shard packing actually sharded
    for src, rs in by_source.items():
        rs.sort(key=lambda r: r["doc_id"])
        prefix = 0
        for r in rs:
            assert 0 <= r["pack_offset"] < PACK_BUDGET
            assert r["pack_id"] == prefix // PACK_BUDGET
            assert r["pack_offset"] == prefix % PACK_BUDGET
            prefix += r["n_tokens"]
        # pack ids monotone non-decreasing in doc order
        ids = [r["pack_id"] for r in rs]
        assert ids == sorted(ids)


def test_star_components_converges_past_min_label_cap(spark):
    """VERDICT r4 ask #6: a path graph longer than MAX_CC_ITERATIONS
    converges under star contraction (O(log n) rounds) while min-label
    raises by design (rounds = diameter)."""
    from spark_dynamodb_spark.operators.dedup import (
        MAX_CC_ITERATIONS,
        min_label_components,
        star_components,
    )

    n = MAX_CC_ITERATIONS * 3
    verts = spark.createDataFrame([(i,) for i in range(n)], "id: long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a: long, b: long")
    with pytest.raises(RuntimeError, match="not converged"):
        min_label_components(verts, pairs)
    out = star_components(verts, pairs).collect()
    assert len(out) == n
    assert all(r.component_id == 0 for r in out)


def test_star_components_matches_union_find(spark):
    """Seeded random graph (forest-ish, long diameter): star contraction
    must agree with a pure-Python union-find oracle, including isolated
    vertices and self loops."""
    import random

    from spark_dynamodb_spark.operators.dedup import star_components

    random.seed(7)
    n = 200
    edges = [(random.randrange(n), random.randrange(n)) for _ in range(150)]
    edges.append((5, 5))  # self loop
    verts = spark.createDataFrame([(i,) for i in range(n)], "id: long")
    pairs = spark.createDataFrame(edges, "a: long, b: long")
    got = dict(map(tuple, star_components(verts, pairs).collect()))

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent[find(u)] = find(v)
    members: dict[int, list[int]] = {}
    for i in range(n):
        members.setdefault(find(i), []).append(i)
    expected = {i: min(g) for g in members.values() for i in g}
    assert got == expected


def test_components_reliable_checkpoint(spark, tmp_path):
    """VERDICT r4 ask #5: checkpoint='reliable' writes RDD checkpoints
    to the configured dir (fault-tolerant lineage cut) and produces the
    same labels as the local-checkpoint default."""
    from spark_dynamodb_spark.operators.dedup import (
        min_label_components,
        star_components,
    )

    verts = spark.createDataFrame([(i,) for i in range(10)], "id: long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(4)], "a: long, b: long")

    with pytest.raises(ValueError, match="setCheckpointDir"):
        # no checkpoint dir configured yet -> fail fast, not mid-loop
        min_label_components(verts, pairs, checkpoint="reliable")

    ckpt = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    base = sorted(map(tuple, min_label_components(verts, pairs).collect()))
    rel = sorted(
        map(tuple, min_label_components(verts, pairs, checkpoint="reliable").collect())
    )
    star_rel = sorted(
        map(tuple, star_components(verts, pairs, checkpoint="reliable").collect())
    )
    assert rel == base == star_rel
    import glob as _glob

    assert _glob.glob(ckpt + "/*/rdd-*"), "no reliable checkpoint written"
    with pytest.raises(ValueError, match="unknown checkpoint mode"):
        min_label_components(verts, pairs, checkpoint="bogus")


def test_soft_dedup_weights_partition_unity(spark, sf_dir):
    """c78: weights are 1e6 div group_size, every member of a cluster
    carries the same weight, and each cluster's total mass is within
    integer-floor slack of 1e6 (unity per cluster)."""
    from spark_dynamodb_spark.operators.dedup import soft_dedup_weights

    rows = soft_dedup_weights(spark, sf_dir).collect()
    assert rows, "empty corpus?"
    by_comp: dict[int, list] = {}
    for r in rows:
        assert r.weight_ppm == 1_000_000 // r.group_size
        by_comp.setdefault(r.component_id, []).append(r)
    for comp, members in by_comp.items():
        sizes = {m.group_size for m in members}
        assert sizes == {len(members)}, (comp, sizes, len(members))
        mass = sum(m.weight_ppm for m in members)
        assert 1_000_000 - len(members) < mass <= 1_000_000


def test_png_codec_roundtrip_all_filters():
    """Real PNG parse: zlib-inflated IDAT, CRC-checked chunks, and all
    FIVE scanline unfilter paths (the encoder cycles filter r % 5, so
    payloads spanning >= 5 rows exercise None/Sub/Up/Average/Paeth)."""
    from spark_dynamodb_spark.functions import codecs

    for payload in (b"x", b"hello world" * 37, bytes(range(256)) * 3):
        png = codecs.encode_png(payload, width=7)  # 21 B rows: odd width
        img = codecs.decode_png(png)
        assert img["width"] == 7 and img["bit_depth"] == 8
        assert img["color_type"] == 2
        assert img["file_size"] == len(png)
        assert img["pixel_data"][: len(payload)] == payload
        assert img["height"] == -(-len(payload) // 21)
    # empty payload: the spec requires nonzero IHDR height, so the
    # encoder rejects it explicitly instead of emitting an invalid file
    # (ADVICE r10)
    with pytest.raises(ValueError):
        codecs.encode_png(b"", width=7)
    # RGBA variant
    payload = bytes((i * 7) % 256 for i in range(400))
    img = codecs.decode_png(codecs.encode_png(payload, width=8, color_type=6))
    assert img["color_type"] == 6
    assert img["pixel_data"][: len(payload)] == payload
    with pytest.raises(ValueError):
        codecs.decode_png(b"BM not a png............" * 2)


def test_png_codec_rejects_corruption_and_unsupported():
    """A flipped byte anywhere in a chunk must fail the CRC (never
    silently misdecode), and out-of-scope variants raise
    NotImplementedError rather than returning garbage."""
    import struct

    import pytest as _pytest

    from spark_dynamodb_spark.functions import codecs

    png = bytearray(codecs.encode_png(b"payload bytes" * 9, width=4))
    png[45] ^= 0x55  # inside IDAT body
    with _pytest.raises(ValueError):
        codecs.decode_png(bytes(png))

    # round 13: Adam7 is SUPPORTED now — a sequential stream relabeled
    # interlaced misparses under the pass geometry and must die loudly
    # (filter-type / length ValueError), never silently misdecode
    png = bytearray(codecs.encode_png(b"zz" * 40, width=4))
    ihdr_body = bytearray(png[16:29])
    ihdr_body[12] = 1  # interlace = Adam7
    crc = codecs.zlib.crc32(b"IHDR" + bytes(ihdr_body)) & 0xFFFFFFFF
    png[16:29] = ihdr_body
    struct.pack_into(">I", png, 29, crc)
    with _pytest.raises(ValueError):
        codecs.decode_png(bytes(png))
    # an unknown interlace method stays a refusal
    png2 = bytearray(codecs.encode_png(b"zz" * 40, width=4))
    ihdr_body = bytearray(png2[16:29])
    ihdr_body[12] = 2
    crc = codecs.zlib.crc32(b"IHDR" + bytes(ihdr_body)) & 0xFFFFFFFF
    png2[16:29] = ihdr_body
    struct.pack_into(">I", png2, 29, crc)
    with _pytest.raises(ValueError, match="interlace"):
        codecs.decode_png(bytes(png2))


def test_bpe_training_semantics(spark):
    """c112's merge machinery on a hand-computable vocabulary: the
    most frequent pair merges first, application is left-to-right and
    NON-overlapping within a pass ('aaab' -> [aa, a, b], never the
    overlapping [a, aa, b] reading), and a merged symbol is eligible
    again in later iterations."""
    from spark_dynamodb_spark.operators.text_analysis import _bpe_merge_expr

    import pyspark.sql.functions as _F

    words = spark.createDataFrame(
        [("aaab", 2), ("aab", 3), ("banana", 1)], "word string, wcnt long"
    )
    syms = words.select(
        "word", "wcnt",
        _F.expr("filter(split(word, ''), x -> x <> '')").alias("syms"),
    )
    merged = syms.selectExpr(
        "word", "wcnt", _bpe_merge_expr("'a'", "'a'") + " AS syms"
    )
    got = {r.word: r.syms for r in merged.collect()}
    assert got["aaab"] == ["aa", "a", "b"], got
    assert got["aab"] == ["aa", "b"], got
    assert got["banana"] == ["b", "a", "n", "a", "n", "a"], got
    # second pass: the previously merged 'aa' is eligible again
    merged2 = merged.selectExpr(
        "word", "wcnt", _bpe_merge_expr("'aa'", "'b'") + " AS syms"
    )
    got2 = {r.word: r.syms for r in merged2.collect()}
    assert got2["aab"] == ["aab"], got2
    assert got2["aaab"] == ["aa", "a", "b"], got2  # tail is [a,b], not [aa,b]


def test_bpe_python_fold_twin_matches_spark_fold(spark):
    """c115's _bpe_apply_merge_py must be bit-equal to the Spark fold
    (_bpe_merge_expr) on the same adversarial cases — overlapping runs,
    self-pairs, merged-symbol re-eligibility across passes — plus a
    randomized sweep so the three spellings (Spark / DuckDB / Python)
    cannot drift."""
    import itertools

    import pyspark.sql.functions as _F

    from spark_dynamodb_spark.operators.text_analysis import (
        _bpe_apply_merge_py,
        _bpe_merge_expr,
    )

    # no empty word: simple_tokens filters empties, so the folds never
    # see an empty symbol array (where the Spark string-fold yields ['']
    # and the Python twin yields [] — a documented non-input)
    words = ["aaab", "aab", "banana", "aaaa", "abab", "bbbb", "a"] + [
        "".join(p) for p in itertools.product("ab", repeat=5)
    ]
    df = spark.createDataFrame([(w,) for w in words], "word string").select(
        "word", _F.expr("filter(split(word, ''), x -> x <> '')").alias("syms")
    )
    for l, r in [("a", "a"), ("a", "b"), ("b", "a"), ("b", "b")]:
        got = {
            row["word"]: row["syms"]
            for row in df.selectExpr(
                "word", _bpe_merge_expr(f"'{l}'", f"'{r}'") + " AS syms"
            ).collect()
        }
        for w in words:
            assert got[w] == _bpe_apply_merge_py(list(w), l, r), (w, l, r)
    # chained passes: merged symbols feed later rules exactly alike
    chain = [("a", "a"), ("aa", "b"), ("aab", "a")]
    cur = df
    py = {w: list(w) for w in words}
    for l, r in chain:
        cur = cur.selectExpr("word", _bpe_merge_expr(f"'{l}'", f"'{r}'") + " AS syms")
        py = {w: _bpe_apply_merge_py(s, l, r) for w, s in py.items()}
    got = {row["word"]: row["syms"] for row in cur.collect()}
    assert got == py


def test_tokenizer_encode_rollup_equals_c113(spark, sf_dir):
    """The c115 <-> c113 identity IS the serving-path contract: per-doc
    raw-text token counts, rolled up per source, must exactly equal the
    distinct-word algebra's n_words / n_bpe_tokens / n_chars (c113
    computes chars via SUM(wcnt*length(word)) — same quantity)."""
    import pyspark.sql.functions as _F

    from spark_dynamodb_spark.operators.text_analysis import (
        bpe_encode,
        tokenizer_encode,
    )
    from spark_dynamodb_spark.tables import load_table

    per_doc = tokenizer_encode(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    rolled = {
        r["source"]: (r["w"], r["t"])
        for r in per_doc.join(src, "doc_id")
        .groupBy("source")
        .agg(_F.sum("n_words").alias("w"), _F.sum("n_tokens").alias("t"))
        .collect()
    }
    want = {
        r["source"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_encode(spark, sf_dir).collect()
    }
    assert rolled == want and len(want) > 0


def test_unigram_lm_hand_computable(spark, tmp_path):
    """c116 on a corpus where the EM arithmetic is checkable by hand:
    three copies of the word 'abc'. Seed pieces {a,b,c,ab,bc,abc} each
    count 3 (total 18, q = 166666 each); among the four segmentations
    of 'abc' the single-piece one wins (score q*S^5 = 1.67e35 beats
    q^2*S^4 = 2.78e34 and q^3*S^3) — the unigram property that whole
    frequent words become single pieces, which BPE needs k merges for.
    M-step: abc -> 1+3 = 4, every unused piece -> 1."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_dynamodb_spark.operators.text_analysis import unigram_lm_train

    docs = pa.table(
        {
            "doc_id": pa.array([1], pa.int64()),
            "text": pa.array(["abc abc abc"], pa.string()),
            "lang": pa.array(["en"], pa.string()),
            "source": pa.array(["t"], pa.string()),
            "n_chars": pa.array([11], pa.int64()),
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    rows = unigram_lm_train(spark, str(tmp_path)).collect()
    assert (rows[0]["piece"], rows[0]["cnt"]) == ("abc", 4)
    assert {r["piece"] for r in rows} == {"a", "b", "c", "ab", "bc", "abc"}
    assert all(r["cnt"] == 1 for r in rows[1:])


def test_unigram_fertility_beats_bpe_on_repetitive_corpus(spark, sf_dir):
    """c117 sanity: with only 6 learned BPE merges but a full substring
    seed vocabulary, the unigram tokenizer's fertility on the prefix
    corpus must be <= BPE's (it can always mimic any <= 3-char pieces
    BPE reaches, and whole frequent prefixes win immediately). Also
    pins the shared-denominator contract: both rows count the SAME
    n_words."""
    from spark_dynamodb_spark.operators.text_analysis import (
        tokenizer_fertility_compare,
    )

    rows = {r["tokenizer"]: r for r in tokenizer_fertility_compare(spark, sf_dir).collect()}
    assert rows["unigram"]["n_words"] == rows["bpe"]["n_words"] > 0
    assert rows["unigram"]["tokens_per_kword"] <= rows["bpe"]["tokens_per_kword"]
    assert rows["unigram"]["tokens_per_kword"] >= 1000  # >= 1 piece per word


def test_jpeg_codec_roundtrip_and_structure():
    """Real baseline-JPEG parse: Huffman entropy decode with DC
    prediction, byte unstuffing, dequant + IDCT, 4:2:0 chroma
    upsampling. Payload bytes (per-block DC constants) must come back
    byte-exact; spec-formula dims must hold."""
    from spark_dynamodb_spark.functions import codecs

    for payload in (b"x", b"hello world jpeg" * 37, bytes(range(256)) * 3):
        j = codecs.encode_jpeg(payload)
        img = codecs.decode_jpeg(j)
        assert img["width"] == 64
        assert img["height"] == (-(-len(payload) // 16) + 1) * 16
        assert img["sampling"] == [(2, 2), (1, 1), (1, 1)]
        assert img["file_size"] == len(j)
        assert codecs.jpeg_payload_bytes(img, len(payload)) == payload
    with pytest.raises(ValueError):
        codecs.decode_jpeg(b"BM not a jpeg..........." * 2)
    with pytest.raises(ValueError):
        codecs.encode_jpeg(b"")


def test_jpeg_trailer_pins_ac_and_subsampling_machinery():
    """The trailer MCU row carries nonzero-AC blocks; these pixel
    literals were computed once from the spec IDCT and pinned — a
    decoder that skips AC decode, run-length handling, negative
    magnitudes, or chroma upsampling reproduces the payload but NOT
    these values."""
    import numpy as np

    from spark_dynamodb_spark.functions import codecs

    img = codecs.decode_jpeg(codecs.encode_jpeg(bytes(range(64))))
    w, h = img["width"], img["height"]
    y = np.frombuffer(img["planes"][0], np.uint8).reshape(h, w)
    cb = np.frombuffer(img["planes"][1], np.uint8).reshape(h, w)
    cr = np.frombuffer(img["planes"][2], np.uint8).reshape(h, w)
    ty = h - 16  # trailer row origin
    # Y0: DC 200 + AC(zigzag 5, 20) -> a real 2-D ripple
    assert y[ty : ty + 2, 0:4].tolist() == [[203, 200, 196, 193], [208, 205, 201, 198]]
    assert y[ty + 4, 0:8].tolist() == [207, 205, 200, 198, 198, 200, 205, 207]
    # Y1: single low-frequency AC -> horizontal-only gradient
    assert y[ty, 8:12].tolist() == [132, 132, 130, 129]
    assert (y[ty, 8:16] == y[ty + 1, 8:16]).all()
    # Y2: AC at natural (3,0) -> vertical-only variation
    assert (y[ty + 8, 0:8] == y[ty + 8, 0]).all()
    assert y[ty + 8, 0] == 122
    # Y3: DC-only -256 -> exactly 96 everywhere
    assert (y[ty + 8 : ty + 16, 8:16] == 96).all()
    # chroma: non-constant, 2x2 replicated to full res
    assert cb[ty, 0:8].tolist() == [134, 134, 133, 133, 132, 132, 130, 130]
    assert (cr[ty, 0:8] == 124).all()
    # payload-region chroma is neutral 128
    assert (cb[0:16, :] == 128).all() and (cr[0:16, :] == 128).all()


def test_jpeg_rejects_out_of_scope_variants():
    """Hierarchical (SOF3) / arithmetic (SOF9) -> honest
    NotImplementedError; corrupt entropy stream -> ValueError.
    (Round 13: SOF2 progressive is SUPPORTED now — a baseline stream
    relabeled SOF2 routes to the progressive decoder and dies on its
    scan-header validation instead of being refused. Round 14: Pq=1
    16-bit quant tables are SUPPORTED — flipping the nibble on an
    8-bit-sized segment is now a CORRUPTION (the segment is 64 bytes
    short of a 16-bit table), so it raises the truncation
    ValueError, and a reserved Pq value raises its own
    ValueError.)"""
    from spark_dynamodb_spark.functions import codecs

    j = bytearray(codecs.encode_jpeg(b"abcdef"))
    sof = j.find(b"\xff\xc0")
    for bad_sof in (0xC3, 0xC9):  # lossless-sequential, arithmetic
        jx = bytearray(j)
        jx[sof + 1] = bad_sof
        with pytest.raises(NotImplementedError):
            codecs.decode_jpeg(bytes(jx))
    j2 = bytearray(j)
    j2[sof + 1] = 0xC2  # relabel baseline as progressive
    with pytest.raises(ValueError, match="Se=0|interleaved"):
        codecs.decode_jpeg(bytes(j2))
    # flip the quant-table precision nibble: the 67-byte segment is
    # 64 bytes short of a 16-bit table -> truncation, not refusal
    dqt = j.find(b"\xff\xdb")
    j3 = bytearray(j)
    j3[dqt + 4] = 0x10
    with pytest.raises(ValueError, match="truncated 16-bit DQT"):
        codecs.decode_jpeg(bytes(j3))
    j4 = bytearray(j)
    j4[dqt + 4] = 0x20  # reserved Pq
    with pytest.raises(ValueError, match="DQT precision"):
        codecs.decode_jpeg(bytes(j4))
    # spec-legal 0xFF fill bytes before a marker (T.81 B.1.1.2) and a
    # parameterless TEM marker must not derail the walk
    padded = bytes(j[:2]) + b"\xff\xff" + b"\xff\x01" + bytes(j[2:])
    img = codecs.decode_jpeg(padded)
    assert codecs.jpeg_payload_bytes(img, 6) == b"abcdef"


def test_jpeg_restart_intervals_roundtrip_and_pinned_pixels():
    """DRI/RSTn support (VERDICT r11 #4): a restart-interval stream
    must decode with byte-exact payload recovery AND the same pinned
    trailer pixels as the no-DRI stream — predictor resets that leak
    state or mis-aligned pad consumption would corrupt both. Also pins
    marker cycling past RST7 (interval 1 over 17+ MCUs) and the
    equality of the decoded planes against the marker-free encoding of
    the same payload."""
    import numpy as np

    from spark_dynamodb_spark.functions import codecs

    payload = bytes(range(64))
    plain = codecs.decode_jpeg(codecs.encode_jpeg(payload))
    for interval in (1, 2, 7):
        j = codecs.encode_jpeg(payload, restart_interval=interval)
        # the stream genuinely contains restart machinery
        assert b"\xff\xdd" in j and b"\xff\xd0" in j
        img = codecs.decode_jpeg(j)
        assert codecs.jpeg_payload_bytes(img, len(payload)) == payload
        assert img["planes"] == plain["planes"]  # bit-identical rasters
    # interval 1 across 20 MCUs cycles n past RST7 (wraps to RST0)
    j1 = codecs.encode_jpeg(payload, restart_interval=1)
    assert b"\xff\xd0" in j1[j1.find(b"\xff\xd7") :]  # wrapped marker
    # pinned trailer pixels survive restarts (same values as the
    # no-DRI test above)
    h, w = plain["height"], plain["width"]
    y = np.frombuffer(
        codecs.decode_jpeg(codecs.encode_jpeg(payload, restart_interval=3))[
            "planes"
        ][0],
        np.uint8,
    ).reshape(h, w)
    ty = h - 16
    assert y[ty : ty + 2, 0:4].tolist() == [[203, 200, 196, 193], [208, 205, 201, 198]]
    assert (y[ty + 8 : ty + 16, 8:16] == 96).all()
    # out-of-sequence restart marker -> ValueError
    j2 = bytearray(codecs.encode_jpeg(payload, restart_interval=2))
    first = j2.find(b"\xff\xd0")
    j2[first + 1] = 0xD5  # claim RST5 where RST0 is due
    with pytest.raises(ValueError, match="out of sequence"):
        codecs.decode_jpeg(bytes(j2))


def test_jpeg_truncated_and_oversized_streams_raise_value_error():
    """ADVICE r11: the documented contract is ValueError — a truncated
    entropy segment must not leak IndexError, a truncated marker
    segment must not leak struct.error, and an over-65535-height
    payload must fail loudly at encode time."""
    from spark_dynamodb_spark.functions import codecs

    j = codecs.encode_jpeg(b"hello world truncation" * 3)
    sos = j.find(b"\xff\xda")
    # cut mid-entropy-data
    with pytest.raises(ValueError, match="truncated"):
        codecs.decode_jpeg(j[: sos + 40])
    # cut mid-marker-segment (inside the first DQT)
    with pytest.raises(ValueError, match="truncated"):
        codecs.decode_jpeg(j[:30])
    # cut right after a marker id (no length bytes) — the walk runs
    # out of bytes before SOS and reports the missing scan
    dqt = j.find(b"\xff\xdb")
    with pytest.raises(ValueError, match="truncated|missing SOF0"):
        codecs.decode_jpeg(j[: dqt + 2])
    # encode-side SOF0 height guard (payload > 65,504 bytes at default
    # width previously crashed struct.pack with an opaque struct.error)
    with pytest.raises(ValueError, match="too large for SOF0"):
        codecs.encode_jpeg(b"\x00" * 70_000)
    assert codecs.encode_jpeg(b"\x00" * 70_000, mcu_cols=8)  # widening works


def test_unigram_encode_rollup_equals_c117(spark, sf_dir):
    """c119 <-> c117 identity: corpus rollups of the per-doc serving
    encoder must exactly equal the c117 'unigram' comparison row (same
    trained model, same serving E-step semantics). Both sides integer."""
    import pyspark.sql.functions as _F

    from spark_dynamodb_spark.operators.text_analysis import (
        tokenizer_fertility_compare,
        unigram_encode,
    )

    agg = unigram_encode(spark, sf_dir).agg(
        _F.sum("n_words").alias("w"), _F.sum("n_pieces").alias("p")
    ).collect()[0]
    uni = {
        r["tokenizer"]: r for r in tokenizer_fertility_compare(spark, sf_dir).collect()
    }["unigram"]
    assert (agg["w"], agg["p"]) == (uni["n_words"], uni["n_tokens"])


def test_ulm_segment_python_twin_matches_spark_estep(spark, sf_dir):
    """c119's _ulm_segment_py must pick the SAME k as the Spark
    _ulm_estep argmax for every distinct word in the fixture — the
    three-engine-agreement pin for the unigram serving path."""
    from spark_dynamodb_spark.operators.text_analysis import (
        _ULM_SCALE,
        _ulm_estep,
        _ulm_pattern_rows,
        _ulm_segment_py,
        _ulm_train,
    )

    _, cand, vocab = _ulm_train(spark, sf_dir)
    model = vocab.collect()
    total = sum(r["cnt"] for r in model)
    q = {r["piece"]: r["cnt"] * _ULM_SCALE // total for r in model}
    patterns = {}
    for n, starts, lens, k, boost in _ulm_pattern_rows():
        patterns.setdefault(n, []).append((starts, lens, k, boost))
    want = {r["wseg"]: r["k"] for r in _ulm_estep(cand, vocab).collect()}
    assert len(want) > 20  # sf0.001 fixture: 31 distinct words
    for wseg, k in want.items():
        assert _ulm_segment_py(wseg, q, patterns) == k, wseg


def test_ulm_segment_twin_mirrors_join_oov_semantics():
    """ADVICE r11: a candidate containing a piece ABSENT from q must
    drop out (inner-join semantics), not score 0 — and the two cases
    must differ: present-with-q==0 stays. Constructed so the two
    semantics disagree: under 'score OOV as 0' every candidate of 'ab'
    ties at 0 and (k ASC, seg ASC) picks k=1 'ab'; under join
    semantics only ['a','b'] survives (k=2)."""
    from spark_dynamodb_spark.operators.text_analysis import (
        _ulm_pattern_rows,
        _ulm_segment_py,
    )

    patterns = {}
    for n, starts, lens, k, boost in _ulm_pattern_rows():
        patterns.setdefault(n, []).append((starts, lens, k, boost))
    # 'ab' absent entirely; 'a' and 'b' present but quantized to 0
    assert _ulm_segment_py("ab", {"a": 0, "b": 0}, patterns) == 2
    # fully out-of-vocabulary word -> loud error, not a silent guess
    with pytest.raises(ValueError, match="out-of-vocabulary"):
        _ulm_segment_py("zz", {"a": 1}, patterns)


def test_ulm_pattern_space_matches_recursive_cte():
    """The Spark side enumerates compositions in Python
    (_ulm_pattern_rows); the oracle enumerates them with a recursive
    CTE (_ULM_PAT_CTES). The two spaces must be row-identical —
    including the exact HUGEINT boost — or the engines segment over
    different candidate sets."""
    import duckdb

    from spark_dynamodb_spark.operators.text_analysis import (
        _ULM_PAT_CTES,
        _ulm_pattern_rows,
    )

    got = duckdb.connect().execute(
        "WITH RECURSIVE "
        + ",\n".join(_ULM_PAT_CTES)
        + " SELECT n, starts, lens, k, CAST(boost AS VARCHAR) FROM pat"
    ).fetchall()
    want = {
        (n, tuple(starts), tuple(lens), k, str(boost))
        for n, starts, lens, k, boost in _ulm_pattern_rows()
    }
    assert {(n, tuple(s), tuple(l), k, b) for n, s, l, k, b in got} == want
    assert len(got) == len(want) == 1951


def test_flac_codec_roundtrip_and_md5_self_verification():
    """Real FLAC decode (VERDICT r11 #5): payload bytes come back
    exactly through the Rice/fixed-predictor pipeline, STREAMINFO's
    embedded MD5 of the decoded samples verifies (the codec spec IS
    the oracle), and the encoder's cycled subframe types mean a
    decoder stub that skips any of constant/verbatim/fixed-1..3
    cannot reproduce the MD5."""
    import random
    import struct

    from spark_dynamodb_spark.functions import codecs

    rng = random.Random(7)
    payloads = [
        b"x",
        b"hello flac " * 60,
        bytes(range(256)) * 4,
        bytes([7] * 1000),  # constant blocks -> CONSTANT subframes
        bytes(rng.randrange(256) for _ in range(3000)),
    ]
    for payload in payloads:
        f = codecs.encode_flac(payload)
        d = codecs.decode_flac(f)
        assert d["md5_verified"] is True
        assert d["n_samples"] == len(payload)
        assert d["sample_rate"] == 8000
        assert d["duration_ms"] == len(payload) * 1000 // 8000
        assert codecs.wav_payload_bytes(d["sample_data"]) == payload
    # a stream long enough to cycle all five subframe modes really
    # contains >= 5 frames (256 samples each)
    long = codecs.encode_flac(bytes(range(256)) * 6)
    assert codecs.decode_flac(long)["n_samples"] == 1536
    with pytest.raises(ValueError):
        codecs.encode_flac(b"")
    with pytest.raises(ValueError):
        codecs.decode_flac(b"RIFFnot a flac....")


def test_flac_rejects_corrupt_and_out_of_scope_streams():
    """Tampered sample data -> STREAMINFO MD5 mismatch; tampered
    frame bytes -> CRC mismatch; truncation -> ValueError;
    STREAMINFO/frame channel disagreements and reserved channel
    assignments -> ValueError (round 13: all real channel layouts
    and widths decode, so the refusal tests moved to the genuinely
    invalid forms)."""
    from spark_dynamodb_spark.functions import codecs

    f = bytearray(codecs.encode_flac(b"abcdefgh" * 100))
    # STREAMINFO md5 lives at bytes 8+18 .. 8+34; flip a bit there
    tampered = bytearray(f)
    tampered[8 + 20] ^= 0x01
    with pytest.raises(ValueError, match="MD5 mismatch"):
        codecs.decode_flac(bytes(tampered))
    # truncate mid-frame
    with pytest.raises(ValueError, match="truncated|sync|CRC"):
        codecs.decode_flac(bytes(f[: len(f) - 40]))
    # corrupt a byte in the last frame's residuals -> CRC-16 catches it
    corrupt = bytearray(f)
    corrupt[-10] ^= 0xFF
    with pytest.raises(ValueError, match="CRC|MD5|sync|truncated|residual|blocksize"):
        codecs.decode_flac(bytes(corrupt))
    # claim a left/side stereo channel assignment in the first frame
    # header of a MONO stream (byte 3's top nibble; the consistency
    # check fires before the CRC-8) — round 13: stereo itself is
    # supported now, so the failure class is the STREAMINFO/frame
    # disagreement, not NotImplementedError
    meta_end = 4 + 4 + 34
    stereo = bytearray(f)
    stereo[meta_end + 3] = (0b1000 << 4) | (stereo[meta_end + 3] & 0x0F)
    with pytest.raises(ValueError, match="disagrees"):
        codecs.decode_flac(bytes(stereo))
    # round 13: >2-channel assignments are supported — relabeling a
    # MONO stream as 5-channel disagrees with STREAMINFO (ValueError);
    # a RESERVED assignment (0b1011..0b1111) stays refused
    multi = bytearray(f)
    multi[meta_end + 3] = (0b0100 << 4) | (multi[meta_end + 3] & 0x0F)
    with pytest.raises(ValueError, match="disagrees"):
        codecs.decode_flac(bytes(multi))
    resv = bytearray(f)
    resv[meta_end + 3] = (0b1011 << 4) | (resv[meta_end + 3] & 0x0F)
    with pytest.raises(ValueError, match="reserved channel"):
        codecs.decode_flac(bytes(resv))


def test_flac_wasted_bits_roundtrip():
    """Round 13: wasted bits (RFC 9639 §9.2.2) — the byte<<4 sample
    mapping leaves 4 zero low bits, so mode-3 (fixed order 2) frames
    emit samples>>4 at bps-4 with the unary-coded k in the subframe
    header. A decoder that ignores the flag misparses the frame and
    dies on CRC/MD5, so a green round-trip proves the path; the
    header byte itself (0x15 = pad 0, type 001010, wasted 1) is
    pinned at the subframe level."""
    import random

    from spark_dynamodb_spark.functions import codecs

    samples = [16 * v for v in (5, 9, 2, 250, 7, 7, 120, 3)]
    wr = codecs._FlacBitWriter()
    codecs._flac_write_subframe(wr, samples, 16, 3)
    wr.align()
    buf = wr.bytes()
    assert buf[0] == 0x15, hex(buf[0])
    rd = codecs._FlacBitReader(buf, 0)
    assert codecs._flac_read_subframe(rd, len(samples), 16) == samples
    # the k-gate: mixed trailing zeros pick the minimum; zeros impose
    # no constraint; all-zero and odd blocks encode plainly
    wk = codecs._flac_wasted_k
    assert wk([16, 32, 4080], 16) == 4
    assert wk([16, 8], 16) == 3
    assert wk([0, 0], 16) == 0
    assert wk([1], 16) == 0
    # end-to-end: >= 4 frames so a mode-3 frame is present, both
    # channel layouts stay MD5-green with byte-exact payload recovery
    rng = random.Random(3)
    payload = bytes(rng.randrange(1, 256) for _ in range(1024))
    for ch in (1, 2):
        d = codecs.decode_flac(codecs.encode_flac(payload, channels=ch))
        assert d["md5_verified"]
        assert codecs.wav_payload_bytes(d["sample_data"]) == payload
    # 8-bit width (round 13): byte-128 signed mapping, 1-byte MD5
    # packing, frame ss_code 0b001 cross-checked against STREAMINFO
    d8 = codecs.decode_flac(codecs.encode_flac(payload, bits_per_sample=8))
    assert d8["md5_verified"] and d8["bits_per_sample"] == 8
    rec8 = bytes((b + 128) & 0xFF for b in memoryview(d8["sample_data"]).cast("b"))
    assert rec8 == payload
    s8 = codecs.decode_flac(
        codecs.encode_flac(payload, channels=2, bits_per_sample=8)
    )
    assert s8["md5_verified"]  # 9-bit side channels decode
    # every remaining spec width (round 13): (byte-128)<<(bps-8)
    # mapping, smallest-whole-byte LE MD5 packing (RFC 9639: 12-bit
    # packs as 2 bytes, 20-bit as 3), per-width frame ss_codes,
    # method-01 (5-bit-param) Rice for wide samples
    for wbps in (12, 20, 24, 32):
        dw = codecs.decode_flac(codecs.encode_flac(payload, bits_per_sample=wbps))
        assert dw["md5_verified"] and dw["bits_per_sample"] == wbps
        nb = (wbps + 7) // 8
        sh = wbps - 8
        raww = dw["sample_data"]
        recw = bytes(
            (int.from_bytes(raww[nb * i : nb * i + nb], "little",
                            signed=True) >> sh) + 128
            for i in range(len(payload))
        )
        assert recw == payload, wbps
        sw = codecs.decode_flac(
            codecs.encode_flac(payload, channels=2, bits_per_sample=wbps)
        )
        assert sw["md5_verified"], wbps  # bps+1-bit side channels
    # wasted bits claiming the whole sample width must be refused
    wr2 = codecs._FlacBitWriter()
    wr2.write(0, 1)
    wr2.write(0b001010, 6)
    wr2.write(1, 1)
    wr2.write(1, 16)  # k = 16 == bps
    wr2.align()
    with pytest.raises(ValueError, match="wasted"):
        codecs._flac_read_subframe(
            codecs._FlacBitReader(wr2.bytes(), 0), 4, 16
        )


def test_flac_stereo_all_four_channel_assignments_roundtrip():
    """Round 13 (VERDICT r12 #2): stereo decorrelation. The encoder
    cycles independent / left/side / right/side / mid/side by frame
    index; a >=4-frame payload therefore exercises every assignment,
    and STREAMINFO-MD5 (computed over the interleaved L0 R0 ...
    stream) self-verifies each one's reconstruction. De-interleaving
    must recover the payload bytes exactly; the odd-length pad sample
    is dropped by truncation. Mid/side parity: L+R and L-R share
    parity, so (mid<<1)|(side&1) restores the exact sum — pinned with
    an adversarial odd-sum pair."""
    from spark_dynamodb_spark.functions import codecs

    # 2100 bytes -> 1050 times -> 5 frames: modes 0,1,2,3,0 all hit
    payload = bytes((i * 37 + 11) % 256 for i in range(2100))
    st = codecs.decode_flac(codecs.encode_flac(payload, channels=2))
    assert st["md5_verified"] and st["n_channels"] == 2
    assert st["n_times"] == 1050 and st["n_samples"] == 2100
    assert codecs.wav_payload_bytes(st["sample_data"]) == payload
    # odd-length payload: right channel of the last time is padded
    odd = payload + b"\x07"  # 2101 bytes
    so = codecs.decode_flac(codecs.encode_flac(odd, channels=2))
    assert so["md5_verified"] and so["n_times"] == 1051
    assert codecs.wav_payload_bytes(so["sample_data"])[:2101] == odd
    # adversarial mid/side parity: (L,R)=(16, 4080) byte pair (1,255)
    # has odd (L+R)>>4 sum classes across the whole block; frame 3 of
    # a 4-frame stream is mid/side, so craft >=1792 bytes of the pair
    pp = bytes([1, 255]) * 1024  # 1024 times -> frames 0..3
    sp = codecs.decode_flac(codecs.encode_flac(pp, channels=2))
    assert sp["md5_verified"]
    assert codecs.wav_payload_bytes(sp["sample_data"]) == pp
    # constant-per-channel stereo payload routes constant subframes
    # through every assignment
    cc = bytes([7, 200]) * 600
    sc = codecs.decode_flac(codecs.encode_flac(cc, channels=2))
    assert sc["md5_verified"]
    assert codecs.wav_payload_bytes(sc["sample_data"]) == cc
    # >2 channels (round 13): independent assignment ch_code = nch-1,
    # subframes sequential, interleave restores byte order exactly
    for nch in (3, 6, 8):
        m = codecs.decode_flac(codecs.encode_flac(payload, channels=nch))
        assert m["md5_verified"] and m["n_channels"] == nch
        assert codecs.wav_payload_bytes(m["sample_data"])[: len(payload)] == payload
    with pytest.raises(ValueError, match="channels"):
        codecs.encode_flac(payload, channels=9)


def test_flac_lpc_subframes_decode():
    """Round 12: quantized-coefficient LPC subframes are REAL — the
    encoder's mode cycle routes every 6th frame through the LPC
    header (precision/shift/coefficients) and the decoder's
    arithmetic-shift reconstruction; a payload long enough to hit
    mode 5 must still reproduce the STREAMINFO MD5 byte-exactly."""
    from spark_dynamodb_spark.functions import codecs

    payload = bytes(range(256)) * 8  # 8 frames: modes 0..5 all hit
    f = codecs.encode_flac(payload)
    # the stream really contains an LPC subframe header byte
    # (pad=0, type=100001 -> 0x42) at some frame: frame 5
    d = codecs.decode_flac(f)
    assert d["md5_verified"] and d["n_samples"] == len(payload)
    assert codecs.wav_payload_bytes(d["sample_data"]) == payload
    # negative LPC shift is spec-forbidden: hand-flip the shift bits
    # of the mode-5 frame and expect the loud ValueError — locating
    # the frame generically: scan for the subframe byte 0x42 after a
    # frame sync; simpler and robust: encoder with a 600-byte payload
    # puts frame 5 (LPC) last-but-one; corrupting ANY byte there
    # yields ValueError already covered above, so just pin that the
    # six-mode cycle produces different frame 2 vs frame 5 encodings
    one = codecs.encode_flac(bytes([1, 2, 3, 4]) * 384)  # 6 frames
    assert codecs.decode_flac(one)["md5_verified"]


def test_avi_mjpeg_container_checks_reject_corruption():
    """The video decoder must validate the container, not just ride it:
    idx1 entries are cross-checked against the movi layout, header
    frame counts against the actual chunks, the declared handler and
    per-frame JPEG dimensions against the stream format."""
    from spark_dynamodb_spark.functions import codecs

    base = codecs.encode_avi_mjpeg(b"the quick brown fox " * 10)

    # truncation (RIFF size overruns the payload)
    with pytest.raises(ValueError, match="truncated"):
        codecs.decode_avi_mjpeg(base[: len(base) // 2])

    # idx1 offset that no longer matches the movi chunk layout
    ipos = base.rindex(b"idx1")
    tampered = bytearray(base)
    tampered[ipos + 8 + 8] ^= 0x04  # first entry's dwChunkOffset
    with pytest.raises(ValueError, match="idx1"):
        codecs.decode_avi_mjpeg(bytes(tampered))

    # header frame count disagreeing with movi content
    apos = base.index(b"avih")
    tampered = bytearray(base)
    tampered[apos + 8 + 16] ^= 0x01  # avih dwTotalFrames
    with pytest.raises(ValueError, match="frame count"):
        codecs.decode_avi_mjpeg(bytes(tampered))

    # a non-MJPEG video handler is an honest refusal, not a misparse
    hpos = base.index(b"MJPG")
    tampered = bytearray(base)
    tampered[hpos : hpos + 4] = b"XVID"
    with pytest.raises(ValueError, match="handler"):
        codecs.decode_avi_mjpeg(bytes(tampered))

    # declared stream dimensions contradicting the frames themselves
    spos = base.index(b"strf")
    tampered = bytearray(base)
    for off in (apos + 8 + 32, spos + 8 + 4):  # avih dwWidth, strf biWidth
        tampered[off] = 128
    with pytest.raises(ValueError, match="contradict"):
        codecs.decode_avi_mjpeg(bytes(tampered))

    # multi-stream declaration (only single-stream MJPEG is in scope)
    tampered = bytearray(base)
    tampered[apos + 8 + 24] = 2  # avih dwStreams
    with pytest.raises(ValueError, match="stream"):
        codecs.decode_avi_mjpeg(bytes(tampered))

    # empty payloads are rejected at encode time like the other codecs
    with pytest.raises(ValueError, match="empty"):
        codecs.encode_avi_mjpeg(b"")


def test_gif_decodes_external_file_and_rejects_corruption():
    """The GIF decoder is anchored to a REAL external file — the
    canonical 1x1 transparent GIF every web tool emits — so the
    encoder/decoder pair cannot be wrong-but-self-consistent about
    bit order, width-bump timing, or block framing. Corruption and
    out-of-scope paths raise the documented error classes."""
    from spark_dynamodb_spark.functions import codecs

    onepx = bytes.fromhex(
        "474946383961"  # GIF89a
        "010001008000" "00"  # 1x1, GCT of 2 entries
        "ffffff" "000000"  # white / black palette
        "21f90401000000" "00"  # graphics control extension
        "2c000000000100010000"  # image descriptor
        "02024401003b"  # min code 2, LZW data, trailer
    )
    img = codecs.decode_gif(onepx)
    assert (img["width"], img["height"]) == (1, 1)
    assert img["pixel_data"] == b"\x00"
    assert not img["gray"]  # its 2-entry palette is black/white, not identity

    base = codecs.encode_gif(b"dictionary coding " * 40)

    with pytest.raises(ValueError, match="signature"):
        codecs.decode_gif(b"JFIF" + base[4:])
    with pytest.raises(ValueError, match="truncated|EOI"):
        codecs.decode_gif(base[: len(base) - 30])
    # round 13: interlace AND local color tables are SUPPORTED —
    # flipping the interlace flag on a sequential stream decodes
    # "successfully" but returns scrambled rows (GIF has no CRC; the
    # de-interlace permutation is covered by
    # test_gif_interlace_row_order). Claiming an LCT on a stream with
    # no palette bytes makes the decoder consume image data as the
    # table and die parsing what follows — a specific ValueError, not
    # a refusal (code-review r13 tightened the two-exception catch):
    ipos = base.index(b"\x2c", 13 + 768)
    tampered = bytearray(base)
    tampered[ipos + 9] |= 0x80  # claim an LCT that is not there
    with pytest.raises(ValueError):
        codecs.decode_gif(bytes(tampered))
    # corrupt a byte inside the LZW stream: either the protocol breaks
    # (ValueError) or the output differs from the true payload — LZW
    # has no CRC, so VALUE corruption with intact geometry is possible
    # and is exactly what the entry's payload-md5 oracle exists for
    tampered = bytearray(base)
    tampered[ipos + 30] ^= 0xFF
    true_pixels = codecs.decode_gif(base)["pixel_data"]
    try:
        out = codecs.decode_gif(bytes(tampered))
        assert out["pixel_data"] != true_pixels
    except ValueError:
        pass
    with pytest.raises(ValueError, match="empty"):
        codecs.encode_gif(b"")


def test_avi_frame_stride_skips_codec_but_not_container_checks():
    """frame_stride must save exactly the per-frame JPEG CPU: skipped
    slots are None, sampled frames decode identically to a full-stride
    pass, and container corruption is still caught because the idx1
    cross-check covers every chunk regardless of stride."""
    from spark_dynamodb_spark.functions import codecs

    payload = b"stride sampling saves codec cpu " * 8  # 4 frames
    base = codecs.encode_avi_mjpeg(payload)
    full = codecs.decode_avi_mjpeg(base)
    sampled = codecs.decode_avi_mjpeg(base, frame_stride=2)
    assert sampled["n_frames"] == full["n_frames"] == 4
    assert sampled["frames"][1] is None and sampled["frames"][3] is None
    for i in (0, 2):
        assert sampled["frames"][i] == full["frames"][i]
        assert codecs.avi_frame_payload_bytes(
            sampled, i, len(payload)
        ) == codecs.avi_frame_payload_bytes(full, i, len(payload))
    # index corruption is caught even for a chunk whose frame is skipped
    ipos = base.rindex(b"idx1")
    tampered = bytearray(base)
    tampered[ipos + 8 + 16 + 8] ^= 0x04  # second entry's offset (a skipped frame)
    with pytest.raises(ValueError, match="idx1"):
        codecs.decode_avi_mjpeg(bytes(tampered), frame_stride=2)


def test_audio_features_integer_exact_on_known_signal():
    """Pin the feature arithmetic on a hand-computable signal: bytes
    [0, 1, 2, 255] -> samples [0, 16, 32, 4080]; energy = 16^2 + 32^2
    + 4080^2, tv = 16 + 16 + 4048, peak = 4080 (single window)."""
    import numpy as np

    from spark_dynamodb_spark.functions import codecs

    wav = codecs.decode_wav(codecs.encode_wav(bytes([0, 1, 2, 255])))
    s = np.frombuffer(wav["sample_data"], dtype="<i2").astype(np.int64)
    assert list(s) == [0, 16, 32, 4080]
    assert int((s * s).sum()) == 16**2 + 32**2 + 4080**2
    assert int(np.abs(np.diff(s)).sum()) == 16 + 16 + 4048
    assert int(s.max()) == 4080


def test_jpeg_progressive_decode_paths():
    """Round 13 (VERDICT r12 #7): progressive (SOF2) decode. The
    7-scan schedule exercises DC first (Al=1) + DC refine + AC first
    with multi-block EOB runs + a second spectral band + AC
    refinement + chroma scans; payload bytes must round-trip exactly
    through coefficient accumulation and the single EOI-time IDCT.
    The newly-significant −1 probe (zigzag 28 in trailer block Y2) is
    delivered ONLY by the refinement scan, so its pixel effect proves
    G.1.2.3 ran; outside that block progressive and baseline decodes
    of the same payload must agree pixel-exactly."""
    import numpy as np

    from spark_dynamodb_spark.functions import codecs

    payload = bytes((i * 31 + 7) % 256 for i in range(500))
    prog = codecs.encode_jpeg_progressive(payload)
    assert prog.count(b"\xff\xda") == 7 and b"\xff\xc2" in prog
    img = codecs.decode_jpeg(prog)  # auto-routes on SOF2
    assert img.get("progressive")
    assert codecs.jpeg_payload_bytes(img, 500) == payload

    base = codecs.decode_jpeg(codecs.encode_jpeg(payload))
    h, w = base["height"], base["width"]
    assert (img["height"], img["width"]) == (h, w)
    bl = np.frombuffer(base["planes"][0], dtype=np.uint8).reshape(h, w)
    pl = np.frombuffer(img["planes"][0], dtype=np.uint8).reshape(h, w)
    diffs = np.argwhere(bl != pl)
    # probe block Y2 = rows 8..15, cols 0..7 of the trailer MCU row
    blk, zz, val = codecs._JPEG_PROG_PROBE
    assert (blk, zz, val) == (2, 28, -1)
    trailer_top = (h // 16 - 1) * 16
    assert len(diffs) > 0, "refinement probe must perturb pixels"
    assert all(
        trailer_top + 8 <= r < trailer_top + 16 and 0 <= c < 8
        for r, c in diffs.tolist()
    )
    # chroma planes agree everywhere (identical coefficient patterns)
    for ci in (1, 2):
        assert base["planes"][ci] == img["planes"][ci]
    # long all-zero stretches force EOB runs > 1 across blocks; a
    # constant payload maximizes them
    const = codecs.decode_jpeg(codecs.encode_jpeg_progressive(bytes(900)))
    assert codecs.jpeg_payload_bytes(const, 900) == bytes(900)
    # corrupt a scan's entropy data -> loud failure, not silence
    bad = bytearray(prog)
    bad[-40] ^= 0x5A
    with pytest.raises(ValueError):
        codecs.decode_jpeg(bytes(bad))
    # jcphuff ZRL rule (code-review r13): ZRLs must be emitted at
    # EVERY nonzero coefficient — a history-nonzero coefficient lying
    # >=16 zero-history positions into a run, followed by a newly-
    # significant one, desyncs the deferred-ZRL encoder (pre-fix:
    # 'invalid refinement magnitude')
    orig = codecs._JPEG_TRAILER_COEFS
    try:
        codecs._JPEG_TRAILER_COEFS = [
            {0: 576, 20: 6, 25: -1},
            {1: 25},
            {9: -40, 30: 1},
            {0: -256},
            {1: 25, 10: 12},
            {2: -25},
        ]
        adv = bytes((i * 31 + 7) % 256 for i in range(300))
        img2 = codecs.decode_jpeg(codecs.encode_jpeg_progressive(adv))
        assert codecs.jpeg_payload_bytes(img2, 300) == adv
    finally:
        codecs._JPEG_TRAILER_COEFS = orig


def test_audio_spectral_fixed_point_exact_on_known_signal():
    """Pin the fixed-point DFT on hand-computable signals. (1) A
    constant signal has zero power in every k>0 bin ONLY if the
    quantized trig table sums to zero per bin — verify the table's
    column sums directly, then (2) a pure bin-4 cosine (built from
    the quantized table itself) must dominate bin 4, and (3) the
    numpy kernel must equal a literal per-sample Python loop on an
    arbitrary signal (no vectorization drift)."""
    import numpy as np

    from spark_dynamodb_spark.operators.multimodal import (
        AUDIO_WIN,
        _SPECTRAL_BINS,
        _spectral_trig_rows,
    )

    tbl = np.array(_spectral_trig_rows(), dtype=np.int64)
    assert tbl.shape == (AUDIO_WIN, 1 + 2 * len(_SPECTRAL_BINS))
    coefs = tbl[:, 1:]
    # (1) each quantized cos/sin column sums to ~0 (exact 0 for full
    # periods of the symmetric table; allow the +-1-per-row rounding
    # residue a quantized table can carry)
    assert all(abs(int(c)) <= AUDIO_WIN for c in coefs.sum(axis=0))
    # (2) signal = quantized cos at k=4, offset to stay non-negative
    sig = coefs[:, 2] + _SPECTRAL_BINS[1] * 0 + 4096
    comps = sig @ coefs
    powers = comps[0::2] ** 2 + comps[1::2] ** 2
    assert int(np.argmax(powers)) == 1  # bin k=4 dominates
    # (3) kernel == literal loop
    rng = np.random.RandomState(13)
    s = rng.randint(0, 4081, size=AUDIO_WIN).astype(np.int64)
    fast = s @ coefs
    slow = [sum(int(s[n]) * int(coefs[n, j]) for n in range(AUDIO_WIN))
            for j in range(coefs.shape[1])]
    assert fast.tolist() == slow


def test_audio_mfcc_against_independent_dft_reference(spark, sf_dir):
    """c122 (VERDICT r12 #10): the float MFCC entry has no SQL oracle
    by design — its strong check is HERE. The Spark kernel computes
    the spectrum with numpy's rfft; this reference recomputes every
    window with an explicit O(n^2) complex-exponential DFT loop (a
    genuinely independent algorithm), then the same mel/log/DCT spec,
    and the two must agree inside explicit tolerance bands
    (tests/float_compare.py). Algorithmic errors (wrong bin scaling,
    off-by-one windows, filterbank drift) blow past the bands; last-
    ulp summation-order drift does not."""
    import math

    import numpy as np

    from spark_dynamodb_spark.functions import codecs
    from spark_dynamodb_spark.operators.multimodal import (
        AUDIO_WIN,
        N_MEL,
        N_MFCC,
        WAV_RATE,
        _MFCC_LOG_FLOOR,
        _mel_filterbank,
        audio_mfcc,
    )
    from tests.float_compare import assert_frames_close, ulp_distance

    # ulp sanity pins
    assert ulp_distance(1.0, 1.0) == 0
    assert ulp_distance(1.0, np.nextafter(1.0, 2.0)) == 1
    assert ulp_distance(-0.0, 0.0) == 0

    got = audio_mfcc(spark, sf_dir).toPandas()
    assert len(got) > 0

    import duckdb

    from spark_dynamodb_spark.tables import table_path

    docs = (
        duckdb.connect()
        .execute(
            "SELECT doc_id, text FROM read_parquet(?) "
            "WHERE octet_length(CAST(text AS BLOB)) = length(text) "
            "AND length(text) > 0 ORDER BY doc_id",
            [table_path(sf_dir, "documents")],
        )
        .fetchall()
    )
    fb = np.array(_mel_filterbank())
    mgrid = np.arange(N_MEL)
    dct = np.array(
        [np.cos(np.pi * c * (mgrid + 0.5) / N_MEL) for c in range(N_MFCC)]
    )
    rows = {k: [] for k in got.columns}
    n_bins = AUDIO_WIN // 2 + 1
    for doc_id, text in docs:
        wav = codecs.decode_wav(codecs.encode_wav(text.encode(), sample_rate=WAV_RATE))
        s = np.frombuffer(wav["sample_data"], dtype="<i2").astype(np.float64)
        nw = -(-len(s) // AUDIO_WIN)
        s = np.pad(s, (0, nw * AUDIO_WIN - len(s)))
        for wi in range(nw):
            win = s[wi * AUDIO_WIN : (wi + 1) * AUDIO_WIN]
            # explicit-loop DFT: X[j] = sum_n w[n] * e^{-2πi jn/N}
            spec = np.empty(n_bins)
            for j in range(n_bins):
                re = sum(
                    win[k] * math.cos(2 * math.pi * j * k / AUDIO_WIN)
                    for k in range(AUDIO_WIN)
                )
                im = sum(
                    -win[k] * math.sin(2 * math.pi * j * k / AUDIO_WIN)
                    for k in range(AUDIO_WIN)
                )
                spec[j] = re * re + im * im
            cc = (np.log(spec @ fb.T + _MFCC_LOG_FLOOR)) @ dct.T
            rows["doc_id"].append(doc_id)
            rows["win_idx"].append(wi)
            for c in range(N_MFCC):
                rows[f"mfcc{c}"].append(cc[c])
    import pandas as pd

    want = pd.DataFrame(rows)
    # bands: the O(n^2) loop accumulates ~64 rounding steps against
    # rfft's ~log2(64); 1e-6 relative with a small absolute floor for
    # near-zero cepstra covers that honestly — far below any
    # algorithmic error (wrong bin ~ O(1) change in log-mel space)
    report = assert_frames_close(
        got, want, ["doc_id", "win_idx"], atol=1e-7, rtol=1e-6, max_ulps=0
    )
    assert report.n_rows == len(want)


def test_image_features_pin_padding_rule():
    """The per-row zero count must reproduce the spec's zero-fill on
    the final row exactly: a 100-byte payload in 96-byte rows leaves
    92 pad zeros in row 1 (plus any genuine zero bytes)."""
    import numpy as np

    from spark_dynamodb_spark.functions import codecs
    from spark_dynamodb_spark.operators.multimodal import ROW_BYTES

    payload = bytes(range(1, 101))  # 100 bytes, none zero
    img = codecs.decode_png(codecs.encode_png(payload, width=32))
    px = np.frombuffer(img["pixel_data"], dtype=np.uint8).astype(int)
    rows = px.reshape(-1, ROW_BYTES)
    assert rows.shape[0] == 2
    assert int((rows[0] == 0).sum()) == 0
    assert int((rows[1] == 0).sum()) == 2 * ROW_BYTES - 100
    assert int(rows[0].sum()) // ROW_BYTES == sum(range(1, 97)) // ROW_BYTES


def test_tiff_early_change_is_load_bearing_and_container_validates():
    """TIFF's LZW changes code width one entry EARLIER than GIF's —
    decode a boundary-crossing TIFF stream with the late-change (GIF)
    timing and it must diverge, proving the two conventions in this
    repo are genuinely distinct implementations. Container corruption
    raises the documented error classes."""
    import random

    from spark_dynamodb_spark.functions import codecs

    rng = random.Random(600)
    payload = bytes(rng.randrange(256) for _ in range(600))  # crosses 511
    stream = codecs._tiff_lzw_compress(payload)
    assert codecs._tiff_lzw_decompress(stream) == payload

    def late_change(data):  # the GIF bump timing on the same bits
        clear, eoi = 256, 257
        pos = acc = nacc = 0

        def read(width):
            nonlocal pos, acc, nacc
            while nacc < width:
                acc = (acc << 8) | data[pos]
                pos += 1
                nacc += 8
            v = (acc >> (nacc - width)) & ((1 << width) - 1)
            nacc -= width
            return v

        base = [bytes([i]) for i in range(256)] + [b"", b""]
        table = list(base)
        width = 9
        prev = None
        out = bytearray()
        while True:
            code = read(width)
            if code == clear:
                table = list(base)
                width = 9
                prev = None
                continue
            if code == eoi:
                return bytes(out)
            if prev is None:
                entry = table[code]
            else:
                if code > len(table):
                    raise ValueError("range")
                entry = table[code] if code < len(table) else prev + prev[:1]
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1  # LATE (GIF) — must desync on TIFF streams
            out += entry
            prev = entry

    try:
        assert late_change(stream) != payload
    except (ValueError, IndexError):
        pass  # desync may also surface as a protocol error

    base = codecs.encode_tiff_lzw(b"tag directories and strips " * 20)
    with pytest.raises(ValueError, match="byte order"):
        codecs.decode_tiff_lzw(b"XX" + base[2:])
    with pytest.raises(ValueError, match="truncated"):
        codecs.decode_tiff_lzw(base[:40])
    # claim a non-LZW compression -> honest refusal (tag 259 lives in
    # the IFD; find it by its little-endian tag bytes)
    tampered = bytearray(base)
    tpos = tampered.rindex(b"\x03\x01\x03\x00")  # tag 259, type SHORT
    tampered[tpos + 8] = 1  # Compression = none
    with pytest.raises(NotImplementedError, match="LZW"):
        codecs.decode_tiff_lzw(bytes(tampered))
    with pytest.raises(ValueError, match="empty"):
        codecs.encode_tiff_lzw(b"")


def test_tiff_inline_value_arrays_and_zero_dims_reject():
    """Spec conformance (code review r12): value arrays of <= 4 bytes
    are stored INLINE in the IFD value slot — a 2-strip file with two
    inline SHORT byte counts must decode identically to the
    offset-array spelling; zero RowsPerStrip raises the documented
    ValueError, not ZeroDivisionError."""
    import struct

    from spark_dynamodb_spark.functions import codecs

    data = bytes(range(256)) * 2  # 512 bytes -> 16 rows -> 2 strips
    base = bytearray(codecs.encode_tiff_lzw(data))
    want = codecs.decode_tiff_lzw(bytes(base))["pixel_data"]
    ifd = struct.unpack("<I", base[4:8])[0]
    (nent,) = struct.unpack("<H", base[ifd : ifd + 2])
    for i in range(nent):
        p = ifd + 2 + 12 * i
        tag, _typ, _count, value = struct.unpack("<HHII", base[p : p + 12])
        if tag == 279:
            counts = struct.unpack("<2I", base[value : value + 8])
            struct.pack_into("<HHI", base, p, 279, 3, 2)  # SHORT x2, inline
            struct.pack_into("<2H", base, p + 8, *counts)
        if tag == 278:
            rps_entry = p
    assert codecs.decode_tiff_lzw(bytes(base))["pixel_data"] == want

    bad = bytearray(codecs.encode_tiff_lzw(b"abc"))
    ifd = struct.unpack("<I", bad[4:8])[0]
    (nent,) = struct.unpack("<H", bad[ifd : ifd + 2])
    for i in range(nent):
        p = ifd + 2 + 12 * i
        if struct.unpack("<H", bad[p : p + 2])[0] == 278:
            struct.pack_into("<I", bad, p + 8, 0)
    with pytest.raises(ValueError, match="zero"):
        codecs.decode_tiff_lzw(bytes(bad))


def test_bmp_rle8_delta_and_corruption():
    """The delta escape's skipped pixels are spec-defined zero (pinned
    by a hand-crafted 4x2 stream); corruption raises the documented
    error classes."""
    import struct

    from spark_dynamodb_spark.functions import codecs

    palette = b"".join(bytes([i, i, i, 0]) for i in range(256))
    rle = bytes([2, ord("A"), 0, 2, 0, 1, 2, ord("C"), 0, 1])
    hdr = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + 1024 + len(rle), 0, 0, 14 + 40 + 1024
    )
    hdr += struct.pack(
        "<IiiHHIIiiII", 40, 4, 2, 1, 8, 1, len(rle), 0, 0, 256, 0
    )
    img = codecs.decode_bmp_rle8(hdr + palette + rle)
    # top-down payload order: delta-skipped pixels are zero
    assert img["pixel_data"] == b"\x00\x00CC" + b"AA\x00\x00"

    base = codecs.encode_bmp_rle8(b"runs and literals " * 30)
    with pytest.raises(ValueError, match="magic"):
        codecs.decode_bmp_rle8(b"XX" + base[2:])
    with pytest.raises(ValueError, match="truncated|end-of-bitmap"):
        codecs.decode_bmp_rle8(base[: len(base) - 6])
    # a run overrunning its row is rejected, not wrapped
    tampered = bytearray(base)
    tampered[14 + 40 + 1024] = 255  # first pair becomes a 255-run on a 32-wide row
    with pytest.raises(ValueError, match="overruns"):
        codecs.decode_bmp_rle8(bytes(tampered))
    with pytest.raises(NotImplementedError, match="RLE8"):
        codecs.decode_bmp_rle8(codecs.encode_bmp(b"abc"))  # 24bpp uncompressed
    with pytest.raises(ValueError, match="empty"):
        codecs.encode_bmp_rle8(b"")


def test_matryoshka_full_dim_row_is_exact_floor(spark, sf_dir):
    """The d=64 row of c120 compares the full ranking against itself —
    recall must be exactly 1e6 ppm, and recall must be monotone
    non-decreasing in dimension (more prefix dims can only help on a
    fixed corpus... up to rank-boundary ties, so assert the endpoints
    and the total-count invariants rather than strict monotonicity)."""
    from spark_dynamodb_spark.operators.similarity import matryoshka_recall

    rows = {r["dim"]: r for r in matryoshka_recall(spark, sf_dir).collect()}
    assert rows[64]["recall_ppm"] == 1_000_000
    assert rows[64]["hits"] == rows[64]["total"]
    for d in (8, 16, 32):
        assert 0 <= rows[d]["hits"] <= rows[d]["total"]
    assert rows[8]["recall_ppm"] <= rows[64]["recall_ppm"]


def test_png_adam7_interlace_geometry():
    """Round 13: Adam7. The interlaced decode must reproduce the
    sequential raster byte-exactly at every height class that changes
    the pass census (h=1: 4 passes; h=2: +pass7; h=3..4: +pass5;
    h>=5: all 7), and a stream missing its final pass bytes must fail
    loudly, not truncate silently."""
    from spark_dynamodb_spark.functions import codecs

    for n in (40, 100, 96 * 2, 96 * 4 + 7, 96 * 9):
        payload = bytes((i * 13 + 5) % 256 for i in range(n))
        seq = codecs.decode_png(codecs.encode_png(payload))
        il = codecs.decode_png(codecs.encode_png_adam7(payload))
        assert il.get("interlaced") and il["pixel_data"] == seq["pixel_data"]
    # truncate the inflated stream: rebuild IDAT with the last pass
    # row dropped -> length-mismatch ValueError
    import struct
    import zlib

    f = codecs.encode_png_adam7(bytes(range(200)))
    pos = len(codecs.PNG_SIG)
    idat = b""
    chunks = []
    while pos + 12 <= len(f):
        (length,) = struct.unpack(">I", f[pos : pos + 4])
        ctype = f[pos + 4 : pos + 8]
        body = f[pos + 8 : pos + 8 + length]
        chunks.append((ctype, body))
        if ctype == b"IDAT":
            idat = body
        pos += 12 + length
    raw = zlib.decompress(idat)
    short = zlib.compress(raw[:-10], 6)
    out = bytearray(codecs.PNG_SIG)
    for ctype, body in chunks:
        if ctype == b"IDAT":
            body = short
        out += codecs._png_chunk(ctype, body)
    with pytest.raises(ValueError, match="length mismatch"):
        codecs.decode_png(bytes(out))


def test_gif_interlace_row_order():
    """Round 13: interlaced GIF. The 4-pass row order is pinned on a
    hand-computable height (appendix E), round-trips are display-
    identical to the sequential encoding at every pass-census height
    class, and the interlace flag is genuinely load-bearing: decoding
    the interlaced STREAM with the flag cleared must hand back
    scrambled rows (same bytes, different order)."""
    import struct

    from spark_dynamodb_spark.functions import codecs

    assert codecs._gif_interlace_rows(10) == [0, 8, 4, 2, 6, 1, 3, 5, 7, 9]
    for n in (1, 64, 65, 64 * 3, 64 * 5, 64 * 9 + 17):
        payload = bytes((i * 29 + 3) % 256 for i in range(n))
        plain = codecs.decode_gif(codecs.encode_gif(payload))
        il = codecs.decode_gif(codecs.encode_gif(payload, interlace=True))
        assert il["pixel_data"] == plain["pixel_data"], n
    # clear the interlace flag on a 5-row interlaced stream: rows come
    # back in stored (pass) order, not display order
    payload = bytes(range(64)) * 5
    f = bytearray(codecs.encode_gif(payload, interlace=True))
    idesc = 13 + 768 + 8  # header + GCT + graphics-control extension
    assert f[idesc] == 0x2C and f[idesc + 9] == 0x40
    f[idesc + 9] = 0
    scrambled = codecs.decode_gif(bytes(f))["pixel_data"]
    ordered = codecs.decode_gif(
        codecs.encode_gif(payload, interlace=True)
    )["pixel_data"]
    assert scrambled != ordered
    assert sorted(scrambled) == sorted(ordered)


def test_png_paletted_and_gif_lct():
    """Round 13: paletted PNG (color type 3, 1 byte/px stride, PLTE
    required + CRC'd) and GIF local color tables (override the global
    palette; a GCT-less stream with an LCT still gray-checks). Both
    encode/decode pairs round-trip byte-exactly and refuse the
    degenerate forms loudly."""
    from spark_dynamodb_spark.functions import codecs

    p = bytes((i * 7 + 1) % 256 for i in range(500))
    img = codecs.decode_png(codecs.encode_png(p, color_type=3))
    assert img["color_type"] == 3 and img["pixel_data"][:500] == p
    assert img["palette"] == codecs._PNG_GRAY_PLTE
    assert img["height"] == -(-500 // 32)  # 1 byte/px stride
    # Adam7 + paletted compose
    il = codecs.decode_png(codecs.encode_png_adam7(p, color_type=3))
    assert il["pixel_data"] == img["pixel_data"]
    # paletted without PLTE is refused
    f = bytearray(codecs.encode_png(p, color_type=3))
    assert f[8 + 25 + 4 : 8 + 25 + 8] == b"PLTE"
    del f[8 + 25 : 8 + 25 + 12 + 768]
    with pytest.raises(ValueError, match="PLTE"):
        codecs.decode_png(bytes(f))
    # grayscale-native PNG (color type 0, round 13): 1 byte/px, no
    # PLTE, both sequential and Adam7
    g0 = codecs.decode_png(codecs.encode_png(p, color_type=0))
    assert g0["color_type"] == 0 and g0["pixel_data"][:500] == p
    assert g0["palette"] is None
    a0 = codecs.decode_png(codecs.encode_png_adam7(p, color_type=0))
    assert a0["pixel_data"] == g0["pixel_data"]
    # 16-bit PNG (round 13): doubled byte stride per pixel, filters
    # byte-wise at bpp = channels*2 (the spec rule); paletted-16 refused
    for ct in (0, 2, 6):
        w16 = codecs.decode_png(codecs.encode_png(p, color_type=ct, bit_depth=16))
        assert w16["bit_depth"] == 16 and w16["pixel_data"][:500] == p, ct
    with pytest.raises(NotImplementedError):
        codecs.encode_png(p, color_type=3, bit_depth=16)
    # GIF LCT: gray-checked from the LOCAL table, global absent
    g = codecs.decode_gif(codecs.encode_gif(p, interlace=True, local_table=True))
    assert g["gray"] and g["pixel_data"][:500] == p
    # truncating the LCT is a loud failure
    gb = bytearray(codecs.encode_gif(p, local_table=True))
    with pytest.raises(ValueError):
        codecs.decode_gif(bytes(gb[: 13 + 8 + 10 + 100]))


def test_pack_boundary_slices_invariants(spark, sf_dir):
    """c123: per pack, segment lengths tile the budget exactly —
    every non-final pack sums to PACK_BUDGET with no gaps or
    overlaps (segments sorted by seg_start are contiguous), and each
    doc's segments tile the doc (doc_offs contiguous, lens sum to
    n_tokens)."""
    import pyspark.sql.functions as F

    from spark_dynamodb_spark.operators.pipeline import (
        PACK_BUDGET,
        pack_boundary_slices,
    )

    df = pack_boundary_slices(spark, sf_dir).collect()
    by_pack: dict = {}
    by_doc: dict = {}
    for r in df:
        by_pack.setdefault((r.source, r.pack_id), []).append(r)
        by_doc.setdefault(r.doc_id, []).append(r)
    for (src, pid), rows in by_pack.items():
        rows.sort(key=lambda r: r.seg_start)
        pos = 0
        for r in rows:
            assert r.seg_start == pos, (src, pid)  # contiguous, no overlap
            assert r.seg_len > 0
            pos += r.seg_len
        last_pid = max(p for (s, p) in by_pack if s == src)
        if pid < last_pid:
            assert pos == PACK_BUDGET, (src, pid, pos)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.doc_off)
        pos = 0
        for r in rows:
            assert r.doc_off == pos, doc_id
            pos += r.seg_len


def test_tiff_packbits_roundtrip_and_primitives():
    """Round 13: TIFF PackBits (compression 32773). Per-scanline
    run/literal packing round-trips through the same IFD/strip
    geometry as LZW; the primitives pin the spec's header classes
    (literal chunks <=128, runs >=3 coded as 257-n, 0x80 no-op) and
    the exact-consumption validation."""
    from spark_dynamodb_spark.functions import codecs

    pb_c = codecs._packbits_compress
    pb_d = codecs._packbits_decompress
    assert pb_d(pb_c(b"aaaabbbcdddd"), 12) == b"aaaabbbcdddd"
    # a >=3 run is coded as a run (2 bytes), not literals
    assert pb_c(b"\x07" * 100) == bytes([257 - 100 & 0xFF, 7]) or len(pb_c(b"\x07" * 100)) == 2
    # 200 zeros need two run headers (max run 128)
    assert len(pb_c(bytes(200))) == 4
    # 0x80 is a no-op on decode
    assert pb_d(b"\x80" + pb_c(b"xy"), 2) == b"xy"
    # truncation is loud
    with pytest.raises(ValueError, match="PackBits"):
        pb_d(pb_c(bytes(50))[:-1], 50)
    payload = bytes((i * 91 + 3) % 256 for i in range(1000)) + b"\x00" * 400
    img5 = codecs.decode_tiff_lzw(codecs.encode_tiff_lzw(payload))
    img32773 = codecs.decode_tiff_lzw(
        codecs.encode_tiff_lzw(payload, compression=32773)
    )
    assert img32773["pixel_data"] == img5["pixel_data"]
    assert img32773["n_strips"] == img5["n_strips"]
    # ADVICE r13 regression: a 2-byte equal pair straddling the
    # 128-byte literal boundary must not emit the 0x80 no-op header
    # (which the decoder skips, desyncing the stream). Build a row
    # with no >=3 runs whose first equal pair starts at offset 127.
    row = bytearray((i * 2 + (i // 2) % 3) % 251 for i in range(256))
    row[127] = row[128] = 200
    row[126] = 10
    row[129] = 11  # pair exactly at 127..128, neighbours differ
    row = bytes(row)
    packed = pb_c(row)
    assert 0x80 not in {
        packed[k]
        for k in _packbits_header_offsets(packed)
    }
    assert pb_d(packed, len(row)) == row
    # and the full-width encode path that ADVICE reproduced with
    for width in (129, 230, 256):
        pay = bytes((i * 7 + 1) % 256 for i in range(width * 3))
        enc = codecs.encode_tiff_lzw(pay, width=width, compression=32773)
        dec5 = codecs.decode_tiff_lzw(codecs.encode_tiff_lzw(pay, width=width))
        assert codecs.decode_tiff_lzw(enc)["pixel_data"] == dec5["pixel_data"]


def _packbits_header_offsets(packed: bytes):
    """Walk a PackBits stream yielding the offsets of header bytes."""
    i = 0
    while i < len(packed):
        yield i
        h = packed[i]
        i += 1
        if h == 0x80:
            continue
        i += (h + 1) if h < 0x80 else 1


def test_mpeg_audio_layer1_roundtrip_and_walk():
    """Round 14 MPEG audio, tier 1: the full closed-form MPEG-1
    Layer I decode. Every bitstream field round-trips bit-exactly
    (payload codes, filler widths 2..15, scalefactor cycle, the
    44.1 kHz Bresenham padding rule), the requantizer's closed form
    is pinned by inverting the float samples back to the integer
    codes, and the walker agrees with the Layer I decoder on frame
    geometry. Corruption and out-of-scope paths raise the documented
    error classes; PCM synthesis and Layer II/III spectral decode
    are the documented table-refusals."""
    import pytest

    from spark_dynamodb_spark.functions import codecs

    p = bytes((i * 37 + 5) % 256 for i in range(1000))
    enc = codecs.encode_mpeg1_layer1(p)
    d = codecs.decode_mpeg1_layer1(enc)
    nf = -(-len(p) // codecs.MP1_BYTES_PER_FRAME)
    assert d["n_frames"] == nf and d["n_samples"] == nf * 384
    assert d["sample_rate"] == 44100 and d["bitrate_kbps"] == 256
    # Bresenham padding: count equals the closed form the oracle uses
    assert d["n_padded"] == nf * codecs._MP1_PAD_REM // codecs.MP1_RATE
    assert d["total_bytes"] == len(enc)
    assert len(enc) == nf * codecs._MP1_SLOTS * 4 + d["n_padded"] * 4
    rec = bytearray()
    for fr in d["frames"]:
        for s in range(12):
            for sb in range(codecs.MP1_PAYLOAD_SUBBANDS):
                rec.append(fr["codes"][sb][s])
    assert bytes(rec[: len(p)]) == p
    # filler subband: cycling widths with the deterministic pattern
    for fi, fr in enumerate(d["frames"]):
        nb = fr["alloc"][codecs.MP1_FILLER_SB]
        assert nb == 2 + (fi % 14)
        for s in range(12):
            assert fr["codes"][codecs.MP1_FILLER_SB][s] == (
                fi * 12 + s + codecs.MP1_FILLER_SB
            ) % ((1 << nb) - 1)
    # requantizer closed form inverts float -> code exactly
    for fr in d["frames"]:
        for sb in (0, 7, 15, codecs.MP1_FILLER_SB):
            nb = fr["alloc"][sb]
            gain = 2.0 * 2.0 ** (-fr["scf"][sb] / 3.0)
            for s in range(12):
                code = round(
                    (fr["samples"][sb][s] / gain * ((1 << nb) - 1) + (1 << nb) - 2)
                    / 2
                )
                assert code == fr["codes"][sb][s]
    # the generic walker agrees on geometry
    w = codecs.walk_mpeg_frames(enc)
    assert len(w) == nf and all(f["layer"] == 1 and f["samples"] == 384 for f in w)
    assert sum(f["frame_len"] for f in w) == len(enc)
    # corruption dies loudly
    with pytest.raises(ValueError, match="sync"):
        codecs.decode_mpeg1_layer1(b"\x00" + enc[1:])
    with pytest.raises(ValueError, match="truncated"):
        codecs.decode_mpeg1_layer1(enc[:-8])
    bad = bytearray(enc)
    bad[4] = 0xFF  # allocation index 15 in the first nibble
    with pytest.raises(ValueError, match="allocation"):
        codecs.decode_mpeg1_layer1(bytes(bad))
    with pytest.raises(ValueError, match="empty"):
        codecs.encode_mpeg1_layer1(b"")
    # the documented refusals
    with pytest.raises(NotImplementedError, match="Table B.3"):
        codecs.synthesize_mpeg1_pcm()
    with pytest.raises(NotImplementedError, match="Huffman"):
        codecs.decode_mp3(b"")


MP3_ANCHOR_EXCERPT = (  # ID3v2 header + first 3 frames of the real file
        "49443304000000000016545353450000000c0000034c61766635332e352e3000"
        "fff380c40000000348000000004c414d45332e39382e32555555555555555555"
        "5555555555555555555555555555555555555555555555555555555555555555"
        "5555555555555555555555555555555555555555555555555555555555555555"
        "5555555555555555555555555555555555555555555555555555555555555555"
        "5555555555555555555555555555555555555555554c414d45332e39382e3255"
        "5555555555555555555555555555555555555555555555555555555555555555"
        "55555555555555555555555555555555fff382c4c30000034800000000555555"
        "5555555555555555555555555555555555555555555555555555555555555555"
        "5555555555555555555555555555555555555555555555555555555555555555"
        "5555555555555555555555555555555555555555555555555555555555555555"
        "5555555555555555555555555555555555555555555555555555555555555555"
        "5555555555554c414d45332e39382e3255555555555555555555555555555555"
        "5555555555555555555555555555555555555555555555555555555555555555"
        "55fff382c4ff0000034800000000555555555555555555555555555555555555"
        "5555555555555555555555555555555555555555555555555555555555555555"
        "5555555555555555555555555555555555555555555555555555555555555555"
        "5555555555555555555555555555555555555555555555555555555555555555"
        "55555555555555555555555555555555555555555555554c414d45332e39382e"
        "3255555555555555555555555555555555555555555555555555555555555555"
        "555555555555555555555555555555555555"
)


def test_mpeg_walker_anchored_to_real_layer3_file():
    """Tier 2 anchor: a REAL MPEG-2 LSF Layer III file (the gsutil
    test fixture, produced by a real encoder). The inline excerpt
    (ID3v2 + 3 frames) keeps the anchor self-contained; when the
    full file is present on this host the walk must consume all 45
    frames and land exactly on EOF. A wrong bitrate/samplerate
    table, frame-length rule, ID3 skip, or side-info bit layout
    breaks this loudly — the side-info check rides on the silence
    encoder's characteristic reservoir saturation (main_data_begin
    0 -> 195 -> 255 with every granule empty), a pattern a
    misaligned bit parse cannot reproduce."""
    import os

    from spark_dynamodb_spark.functions import codecs

    ex = bytes.fromhex(MP3_ANCHOR_EXCERPT)
    frames = codecs.walk_mpeg_frames(ex)
    assert len(frames) == 3
    for f in frames:
        assert (f["version"], f["layer"]) == ("2", 3)
        assert f["sample_rate"] == 22050 and f["bitrate_kbps"] == 64
        assert f["mode"] == 3 and f["samples"] == 576
    assert [f["frame_len"] for f in frames] == [208, 209, 209]
    si = [f["side_info"] for f in frames]
    assert [s["main_data_begin"] for s in si] == [0, 195, 255]
    for s in si:
        g = s["granules"][0][0]
        assert g["part2_3_length"] == 0 and g["big_values"] == 0
        assert g["global_gain"] == 210  # the spec's unity-gain point
    full = "/usr/lib/google-cloud-sdk/platform/gsutil/gslib/tests/test_data/test.mp3"
    if os.path.exists(full):
        with open(full, "rb") as fh:
            wf = codecs.walk_mpeg_frames(fh.read())
        assert len(wf) == 45
        assert all(f["side_info"]["granules"][0][0]["part2_3_length"] == 0 for f in wf)
        mdb = [f["side_info"]["main_data_begin"] for f in wf]
        caps = [f["frame_len"] - 4 - 9 for f in wf]  # mono LSF side info
        assert all(mdb[i] <= min(255, sum(caps[:i])) for i in range(len(wf)))


def test_c124_shard_assignment_balance_and_epoch_reshuffle(spark, sf_dir):
    """c124 invariants: (a) totals conservation — every epoch's worker
    budgets sum to the manifest totals; (b) determinism — two runs
    produce identical rows; (c) epoch seeding — epoch 0 and epoch 1
    produce DIFFERENT worker maps/orders (the md5 key includes the
    epoch); (d) statistical balance at scale — on a synthetic
    10k-shard manifest the max worker token share stays within 15%
    of fair (1/8), pinning the hash-bucket balance bound the entry's
    docstring claims (all deterministic: md5 has no seed)."""
    from pyspark.sql import functions as F

    from spark_dynamodb_spark.operators.pipeline import (
        N_LOADER_WORKERS,
        _shard_assignment_cols,
        shard_assignment,
        train_shards_capstone,
    )

    rows = shard_assignment(spark, sf_dir).collect()
    manifest = train_shards_capstone(spark, sf_dir).collect()
    tot_tokens = sum(r.pack_tokens for r in manifest)
    tot_docs = sum(r.n_docs for r in manifest)
    n_shards = len(manifest)
    by_epoch: dict = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, []).append(r)
    assert set(by_epoch) == {0, 1}
    for ep, ws in by_epoch.items():
        assert sum(w.worker_tokens for w in ws) == tot_tokens
        assert sum(w.worker_docs for w in ws) == tot_docs
        assert sum(w.n_shards for w in ws) == n_shards
        assert all(0 <= w.worker < N_LOADER_WORKERS for w in ws)
        assert all(w.first_key <= w.last_key for w in ws)
    # determinism
    again = shard_assignment(spark, sf_dir).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]
    # epoch reshuffle: the per-worker budgets differ between epochs
    sig = lambda ws: sorted((w.worker, w.worker_tokens, w.first_key) for w in ws)
    assert sig(by_epoch[0]) != sig(by_epoch[1])
    # (d) synthetic 10k-shard manifest: balance within 15% of fair
    synth = spark.range(10_000).select(
        F.lit("srcX").alias("source"),
        F.col("id").alias("pack_id"),
        (F.lit(2000) + (F.col("id") % 97)).alias("pack_tokens"),
    )
    key, worker = _shard_assignment_cols(
        F.lit(0), F.col("source"), F.col("pack_id")
    )
    per_worker = (
        synth.select(worker.alias("worker"), "pack_tokens")
        .groupBy("worker")
        .agg(F.sum("pack_tokens").alias("tok"))
        .collect()
    )
    toks = [r.tok for r in per_worker]
    assert len(toks) == N_LOADER_WORKERS
    fair = sum(toks) / N_LOADER_WORKERS
    assert max(toks) < 1.15 * fair and min(toks) > 0.85 * fair, toks


def test_c125_float_cosine_against_fsum_reference(spark, sf_dir):
    """c125 (VERDICT r13 #6): the raw-float cosine serving entry has
    no SQL oracle by design — its strong check is HERE. The Spark
    side scores with JVM aggregate-fold dot products; this reference
    recomputes every returned (query, neighbor) cosine with
    math.fsum over the element products (exactly-rounded summation —
    a genuinely different algorithm) and the scores, margins, and
    rank-ordered means must agree inside explicit bands. The
    reference also re-derives its own top-K set per query and must
    pick the same neighbors (no near-tie flakiness on the fixture:
    asserted margins clear the band by orders of magnitude)."""
    import math

    import duckdb
    import pandas as pd

    from spark_dynamodb_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        ann_cosine_float_serving,
    )
    from spark_dynamodb_spark.tables import table_path
    from tests.float_compare import assert_frames_close

    got = ann_cosine_float_serving(spark, sf_dir).toPandas()
    assert len(got) == N_QUERIES * TOP_K

    vecs = dict(
        duckdb.connect()
        .execute(
            "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))"
            " FROM read_parquet(?)",
            [table_path(sf_dir, "embeddings")],
        )
        .fetchall()
    )

    def cos(a, b):
        num = math.fsum(x * y for x, y in zip(a, b))
        na = math.sqrt(math.fsum(x * x for x in a))
        nb = math.sqrt(math.fsum(y * y for y in b))
        return num / (na * nb)

    rows = {k: [] for k in got.columns}
    for qid in range(N_QUERIES):
        scored = sorted(
            (
                (cos(vecs[qid], v), vid)
                for vid, v in vecs.items()
                if vid != qid
            ),
            key=lambda t: (-t[0], t[1]),
        )[:TOP_K]
        mean_c = math.fsum(c for c, _ in scored) / TOP_K
        margin = scored[0][0] - scored[1][0]
        for rnk, (c, vid) in enumerate(scored, 1):
            rows["query_id"].append(qid)
            rows["rnk"].append(rnk)
            rows["neighbor_id"].append(vid)
            rows["cosine"].append(c)
            rows["top1_margin"].append(margin)
            rows["mean_topk_cos"].append(mean_c)
    want = pd.DataFrame(rows)
    # neighbor selection identical (exact int compare via key columns)
    assert_frames_close(
        got,
        want,
        key_cols=["query_id", "rnk", "neighbor_id"],
        rtol=1e-12,
        atol=1e-12,
        max_ulps=128,
    )
    # the fixture's margins clear the comparison band by orders of
    # magnitude, so the same-set assertion above cannot be a near-tie
    # artifact
    assert got["top1_margin"].abs().min() > 1e-6


def test_c126_perplexity_against_counter_fsum_reference(spark, sf_dir):
    """c126 (VERDICT r13 #6): the float perplexity eval's strong
    check. Reference: pure-Python Counter over the same single-space
    token rule, per-source logprob via math.fsum of n_w * log(cnt_w)
    terms (different summation algorithm and call pattern than
    Spark's partial-aggregated SUM of F.log), perplexity via
    math.exp. Bands are tight: the factored form keeps both sides to
    one log per distinct word."""
    import math
    from collections import Counter

    import duckdb
    import pandas as pd

    from spark_dynamodb_spark.operators.text_analysis import (
        unigram_perplexity_eval,
    )
    from spark_dynamodb_spark.tables import table_path
    from tests.float_compare import assert_frames_close

    got = unigram_perplexity_eval(spark, sf_dir).toPandas()
    assert len(got) > 0

    docs = (
        duckdb.connect()
        .execute(
            "SELECT source, text FROM read_parquet(?)",
            [table_path(sf_dir, "documents")],
        )
        .fetchall()
    )
    corpus = Counter()
    per_src_tokens: dict = {}
    n_docs: dict = {}
    for source, text in docs:
        toks = [w for w in (text or "").lower().split(" ") if w]
        corpus.update(toks)
        per_src_tokens.setdefault(source, Counter()).update(toks)
        n_docs[source] = n_docs.get(source, 0) + 1
    total = sum(corpus.values())
    rows = {k: [] for k in got.columns}
    for source in sorted(per_src_tokens):
        sc = per_src_tokens[source]
        n_tok = sum(sc.values())
        lp = math.fsum(
            n * math.log(corpus[w]) for w, n in sc.items()
        ) - n_tok * math.log(total)
        rows["source"].append(source)
        rows["n_docs"].append(n_docs[source])
        rows["n_tokens"].append(n_tok)
        rows["logprob"].append(lp)
        rows["perplexity"].append(math.exp(-lp / n_tok))
    want = pd.DataFrame(rows)
    assert_frames_close(
        got,
        want,
        key_cols=["source", "n_docs", "n_tokens"],
        rtol=1e-10,
        atol=1e-9,
        max_ulps=256,
    )
    # sanity: a unigram model's per-token perplexity is bounded by
    # the vocabulary-ish scale and must exceed 1
    assert (got["perplexity"] > 1.0).all()


def test_jpeg12_roundtrip_and_trailer_against_direct_idct():
    """12-bit SOF1 JPEG (round 14): payload bytes round-trip exactly
    (constant blocks, q0=128 divisibility), the Pq=1 16-bit DQT path
    is load-bearing (q_AC=300 cannot encode in 8 bits), and the
    trailer block's pixels match an INDEPENDENT direct double-loop
    IDCT of the dequantized coefficients — the machinery a stub
    decoder would skip. Corruption and the remaining refusal markers
    raise the documented error classes."""
    import math

    import numpy as np
    import pytest

    from spark_dynamodb_spark.functions import codecs

    p = bytes((i * 73 + 11) % 256 for i in range(500))
    enc = codecs.encode_jpeg12(p)
    img = codecs.decode_jpeg(enc)
    assert img["precision"] == 12
    assert codecs.jpeg12_payload_bytes(img, len(p)) == p
    # the stream really carries a Pq=1 DQT with a >255 entry
    dqt_at = enc.index(b"\xff\xdb")
    assert enc[dqt_at + 4] >> 4 == 1  # Pq = 1
    # independent IDCT of the Y0 trailer block: coefs are zigzag
    # indexed quantized values; dequant with q0=128 / qac=300
    coefs = np.zeros(64)
    for z, v in codecs._JPEG12_TRAILER_COEFS[0].items():
        q = codecs._JPEG12_Q_DC if z == 0 else codecs._JPEG12_Q_AC
        coefs[codecs._JPEG_ZIGZAG[z]] = v * q
    m = coefs.reshape(8, 8)
    want = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            acc = 0.0
            for u in range(8):
                for v in range(8):
                    cu = math.sqrt(0.5) if u == 0 else 1.0
                    cv = math.sqrt(0.5) if v == 0 else 1.0
                    acc += (
                        cu * cv * m[u, v]
                        * math.cos((2 * x + 1) * v * math.pi / 16)
                        * math.cos((2 * y + 1) * u * math.pi / 16)
                    )
            want[y, x] = min(max(round(acc / 4 + 2048), 0), 4095)
    yplane = np.frombuffer(img["planes"][0], dtype=np.uint16).reshape(
        -1, img["width"]
    )
    got = yplane[-16:-8, :8].astype(np.float64)
    assert np.array_equal(got, want), (got, want)
    assert got.max() > got.min()  # nonflat — the entry's column
    # corruption + refusals
    with pytest.raises(ValueError, match="truncated"):
        codecs.decode_jpeg(enc[:-20])
    bad = bytearray(enc)
    sof = bad.index(b"\xff\xc1")
    bad[sof + 1] = 0xC3  # lossless sequential — still refused
    with pytest.raises(NotImplementedError, match="hierarchical|arithmetic"):
        codecs.decode_jpeg(bytes(bad))
    bad[sof + 1] = 0xC1
    bad[sof + 4] = 10  # precision 10: spec-illegal for SOF1 here
    with pytest.raises(NotImplementedError, match="precision"):
        codecs.decode_jpeg(bytes(bad))


def test_mpeg1_layer1_stereo_and_joint_modes():
    """Round 14 stereo extension: all three Layer I channel modes.
    Stereo (0b00): per-channel allocation/scalefactors — payload
    rides channel 0, channel 1 carries the 2..5-bit width cycle with
    the deterministic pattern. Joint intensity (0b01, bound=8):
    per-channel below the bound, ONE shared code per (s, sb) at/above
    it, per-channel scalefactors — so the shared code requantizes to
    DIFFERENT float samples per channel (the point of intensity
    coding). The mono bitstream layout is byte-identical to round
    13's (the oracle-pinned geometry)."""
    import pytest

    from spark_dynamodb_spark.functions import codecs

    p = bytes((i * 37 + 5) % 256 for i in range(1000))
    st = codecs.decode_mpeg1_layer1(codecs.encode_mpeg1_layer1(p, mode=0b00))
    assert st["n_channels"] == 2 and st["bitrate_kbps"] == 448
    rec = bytearray()
    for fi, fr in enumerate(st["frames"]):
        for s in range(12):
            for sb in range(codecs.MP1_PAYLOAD_SUBBANDS):
                rec.append(fr["codes"][0][sb][s])
        for sb in range(codecs.MP1_PAYLOAD_SUBBANDS):
            nb = fr["alloc"][1][sb]
            assert nb == 2 + ((fi + sb) % 4)
            for s in range(12):
                assert fr["codes"][1][sb][s] == (fi * 12 + s + 16) % (
                    (1 << nb) - 1
                )
    assert bytes(rec[: len(p)]) == p
    jt = codecs.decode_mpeg1_layer1(
        codecs.encode_mpeg1_layer1(p, mode=0b01, bound=8)
    )
    fr = jt["frames"][0]
    assert fr["bound"] == 8
    # shared codes, per-channel gains -> per-channel samples diverge
    assert all(fr["codes"][0][sb] == fr["codes"][1][sb] for sb in range(8, 17))
    assert any(fr["scf"][0][sb] != fr["scf"][1][sb] for sb in range(8, 16))
    assert any(
        fr["samples"][0][sb] != fr["samples"][1][sb] for sb in range(8, 16)
    )
    # below the bound the channels are independent
    assert any(fr["codes"][0][sb] != fr["codes"][1][sb] for sb in range(0, 8))
    # dual-channel mode and bad bounds are loud
    with pytest.raises(ValueError, match="mode"):
        codecs.encode_mpeg1_layer1(p, mode=0b10)
    with pytest.raises(ValueError, match="bound"):
        codecs.encode_mpeg1_layer1(p, mode=0b01, bound=6)
    # mono layout unchanged from round 13 (oracle-pinned geometry)
    d = codecs.decode_mpeg1_layer1(codecs.encode_mpeg1_layer1(p))
    assert d["n_channels"] == 1 and d["bitrate_kbps"] == 256
    assert isinstance(d["frames"][0]["alloc"][0], int)  # flat shape


def test_jpeg_hierarchical_pyramid_and_refusals():
    """Hierarchical JPEG (round 14): the DHP/EXP/SOF5 pyramid decodes
    end-to-end — payload from the base frame, final plane equal to
    clamp(expand_2x(base) + d) with the expansion checked by TWO
    independent implementations (the decoder's list-based spec filter
    vs a vectorized numpy twin), differential DCs coded with the
    documented PRED=0 convention. SOF5 without DHP is a ValueError;
    arithmetic/lossless markers stay refused; decode_jpeg dispatches
    DHP streams automatically."""
    import numpy as np
    import pytest

    from spark_dynamodb_spark.functions import codecs

    p = bytes((i * 53 + 7) % 256 for i in range(300))
    enc = codecs.encode_jpeg_hierarchical(p)
    img = codecs.decode_jpeg(enc)  # dispatches on DHP
    assert img["n_frames"] == 2
    assert (img["width"], img["height"]) == (64, 16 * -(-300 // 4))
    bw, bh = img["base_width"], img["base_height"]
    base = np.frombuffer(img["base_planes"][0], dtype=np.uint8).reshape(
        bh, bw
    )
    rec = bytes(
        int(base[(i // (bw // 8)) * 8, (i % (bw // 8)) * 8])
        for i in range(len(p))
    )
    assert rec == p
    # two independent expansion implementations agree
    lst = np.array(codecs._jpeg_expand_2x(base.astype(int).tolist(), bh, bw))
    right = np.concatenate([base[:, 1:], base[:, -1:]], axis=1).astype(int)
    wide = np.empty((bh, 2 * bw), dtype=int)
    wide[:, ::2] = base
    wide[:, 1::2] = (base.astype(int) + right + 1) >> 1
    down = np.concatenate([wide[1:, :], wide[-1:, :]], axis=0)
    vec = np.empty((2 * bh, 2 * bw), dtype=int)
    vec[::2, :] = wide
    vec[1::2, :] = (wide + down + 1) >> 1
    assert np.array_equal(lst, vec)
    # final plane = clamp(expansion + per-block d) everywhere
    full = np.frombuffer(img["planes"][0], dtype=np.uint8).reshape(
        img["height"], img["width"]
    )
    dgrid = (
        np.add.outer(np.arange(img["height"] // 8), np.arange(img["width"] // 8))
        % 5
    ) - 2
    d = np.kron(dgrid, np.ones((8, 8), dtype=int))
    assert np.array_equal(full, np.clip(vec + d, 0, 255))
    # the differential layer is genuinely nonzero somewhere
    assert (d != 0).any() and not np.array_equal(full[::2, ::2], base)
    # refusals / protocol errors
    j = bytearray(codecs.encode_jpeg(b"abc"))
    j[j.find(b"\xff\xc0") + 1] = 0xC5
    with pytest.raises(ValueError, match="DHP"):
        codecs.decode_jpeg(bytes(j))
    with pytest.raises(ValueError, match="truncated|marker|sync"):
        codecs.decode_jpeg(enc[:-30])
    with pytest.raises(ValueError, match="empty"):
        codecs.encode_jpeg_hierarchical(b"")


def test_advice_r14_codec_fixes():
    """ADVICE r14 regressions: (1) hierarchical DHP reports the SOF
    precision field (body[0] = 8), not the component count that an
    earlier cut stored, and now also surfaces n_components; (2) a
    12-bit BASELINE SOF0 frame is a spec violation (T.81 restricts
    SOF0 to 8-bit) and fails loud instead of decoding silently;
    (3) a Layer I frame whose allocations overrun the declared frame
    length raises instead of silently reading the next frame's
    bytes."""
    import pytest

    from spark_dynamodb_spark.functions import codecs

    # (1) DHP precision + component count
    img = codecs.decode_jpeg(codecs.encode_jpeg_hierarchical(b"hier!"))
    assert img["precision"] == 8
    assert img["n_components"] == 3  # the encoder's Y/Cb/Cr pyramid
    # (2) SOF0 must be 8-bit; flipping the precision byte to 12 on a
    # baseline stream is spec-invalid, not a supported combination
    enc = bytearray(codecs.encode_jpeg(b"abc"))
    sof = enc.index(b"\xff\xc0")
    enc[sof + 4] = 12
    with pytest.raises(ValueError, match="SOF0 requires 8-bit"):
        codecs.decode_jpeg(bytes(enc))
    # (3) Layer I allocation overrun: force every subband of frame 0
    # to a 15-bit allocation (code 14) — the samples then need ~720
    # bytes against a ~280-byte frame, and with real next-frame bytes
    # available the old decoder read them silently
    stream = bytearray(
        codecs.encode_mpeg1_layer1(bytes(6 * 192))  # 6 frames of zeros
    )
    for i in range(16):  # 32 x 4-bit allocations right after the header
        stream[4 + i] = 0xEE
    with pytest.raises(ValueError, match="overruns declared frame"):
        codecs.decode_mpeg1_layer1(bytes(stream))


def test_c127_mixture_schedule_invariants(spark, sf_dir):
    """c127 (round 15): the alpha=0.5 temperature schedule's algebra —
    (a) ppm columns are true integer shares (sum within n_sources ulps
    of 1e6, floor division); (b) the temperature flattens the mixture:
    every source strictly below the mean token share gains weight
    (weight_ppm >= natural_ppm) and the largest source loses it;
    (c) budget conservation: per-epoch budgets sum to at most
    MIXTURE_EPOCH_TOKENS and within n_sources of it; (d) repeat_x1000
    ordering follows the temperature — the smallest source oversamples
    at least as hard as the largest."""
    from spark_dynamodb_spark.operators.pipeline import (
        MIXTURE_EPOCH_TOKENS,
        mixture_schedule,
    )

    rows = mixture_schedule(spark, sf_dir).collect()
    n = len(rows)
    assert n >= 3
    wtot = sum(r.weight_ppm for r in rows)
    ntot = sum(r.natural_ppm for r in rows)
    assert 1_000_000 - n <= wtot <= 1_000_000
    assert 1_000_000 - n <= ntot <= 1_000_000
    btot = sum(r.epoch_budget_tokens for r in rows)
    assert MIXTURE_EPOCH_TOKENS - n <= btot <= MIXTURE_EPOCH_TOKENS
    mean_ppm = 1_000_000 // n
    for r in rows:
        if r.natural_ppm < mean_ppm:
            assert r.weight_ppm >= r.natural_ppm, r
    big = max(rows, key=lambda r: r.source_tokens)
    small = min(rows, key=lambda r: r.source_tokens)
    assert big.weight_ppm <= big.natural_ppm, big
    assert small.repeat_x1000 >= big.repeat_x1000, (small, big)


def test_mpeg1_layer1_crc_protected_frames_decode_identically():
    """Code-review r15: protection_bit = 0 places a 16-bit CRC between
    header and audio data (ISO 11172-3 §2.4.1.3). The walker always
    accounted for it; the decoder must too — a protected stream's
    codes/samples must equal the unprotected original's, and the CRC
    bytes must never parse as allocations."""
    from spark_dynamodb_spark.functions import codecs

    payload = bytes((i * 31 + 5) % 256 for i in range(3 * 192))
    plain = codecs.encode_mpeg1_layer1(payload)
    ref = codecs.decode_mpeg1_layer1(plain)

    # rebuild the stream with protection on: clear the protection bit,
    # insert a 2-byte CRC after each header, drop 2 trailing ancillary
    # zero bytes so frame_len stays true to the header fields
    out = bytearray()
    pos = 0
    while pos < len(plain):
        b1, b2 = plain[pos + 1], plain[pos + 2]
        pad = (b2 >> 1) & 1
        frame_len = (12 * 256_000 // 44_100 + pad) * 4
        frame = plain[pos : pos + frame_len]
        assert frame[-2:] == b"\x00\x00"  # ancillary room for the CRC
        out += bytes([frame[0], b1 & ~1, frame[2], frame[3]])
        out += b"\xbe\xef"  # CRC bytes (position-skipped, unvalidated)
        out += frame[4:-2]
        pos += frame_len
    prot = codecs.decode_mpeg1_layer1(bytes(out))
    assert prot["n_frames"] == ref["n_frames"]
    for fp, fr in zip(prot["frames"], ref["frames"]):
        assert fp["alloc"] == fr["alloc"]
        assert fp["scf"] == fr["scf"]
        assert fp["codes"] == fr["codes"]


def test_token_hash_shingles_pairs_match_string_base(spark, sf_dir):
    """Round-16 internals change: c02 builds its shingle relation as
    INTEGER combines of per-token xxhash64 draws instead of hashed
    space-joined k-gram strings. The verified pair set (and every
    jaccard value) must equal the string-base pipeline's — the two
    representations may only differ under a 64-bit hash collision,
    which the fixture must not exhibit."""
    from spark_dynamodb_spark.operators import dedup
    from spark_dynamodb_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    via_strings = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup._minhash_verified_pairs(
            dedup._shingle_arrays(docs), "sharr"
        ).collect()
    }
    via_token_hashes = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup._minhash_verified_pairs(
            dedup._token_hash_shingles(docs), "sh"
        ).collect()
    }
    assert via_token_hashes == via_strings
    assert len(via_strings) > 0


def test_flac_crc_tables_match_bit_loop():
    """Round-16 internals change: FLAC CRC-8/CRC-16 are table-driven.
    Must equal the RFC 9639 bit-loop definition on randomized data."""
    import random

    from spark_dynamodb_spark.functions.codecs import _flac_crc8, _flac_crc16

    def ref8(data: bytes) -> int:
        crc = 0
        for b in data:
            crc ^= b
            for _ in range(8):
                crc = (
                    ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
                )
        return crc

    def ref16(data: bytes) -> int:
        crc = 0
        for b in data:
            crc ^= b << 8
            for _ in range(8):
                crc = (
                    ((crc << 1) ^ 0x8005) & 0xFFFF
                    if crc & 0x8000
                    else (crc << 1) & 0xFFFF
                )
        return crc

    rng = random.Random(20260817)
    for _ in range(200):
        data = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 400)))
        assert _flac_crc8(data) == ref8(data)
        assert _flac_crc16(data) == ref16(data)
