"""Deduplication operators — SURVEY §2 C1/C2: exact, MinHash+LSH,
SimHash, exact n-gram Jaccard.

Hash discipline: everything oracle-compared derives hashes from md5
(engine-portable, functions/text.py). Spark-only scale paths would use
xxhash64 instead (same plan shape, cheaper hash).

Scale notes (100 TB):
- exact dedup is one map-side-combinable groupBy on a 16-byte hash —
  the shuffle carries (hash, min_id, count), not documents.
- MinHash: signatures are 48 aggregates over exploded shingles
  (shuffle key = doc_id, combinable); LSH banding turns the O(n²)
  pair search into groupBy(band_hash) buckets — only same-bucket
  pairs are candidates, and the exact-Jaccard verify runs on
  candidates only. No driver-side loop anywhere.
- SimHash: one pass, 60 combinable aggregates per doc; near-dup
  search is then hamming distance on a 60-bit int (bucketable by
  bit-chunks at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_dynamodb_spark.functions.text import (
    md5_64,
    normalize_text,
    shingles,
    sql_md5_64,
    sql_normalize_text,
    sql_tokens,
    tokens,
)
from spark_dynamodb_spark.registry import query
from spark_dynamodb_spark.tables import load_table

# ---------------------------------------------------------------------------
# C1 — exact dedup
# ---------------------------------------------------------------------------

@query(
    "c01_dedup_exact",
    f"""
    SELECT md5({sql_normalize_text('text')}) AS content_hash,
           min(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY content_hash
    ORDER BY keep_doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: canonicalize → hash → keep the first doc per content hash."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(normalize_text("text")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
        .orderBy("keep_doc_id")
    )


# ---------------------------------------------------------------------------
# Shared shingle helpers
# ---------------------------------------------------------------------------

SHINGLE_K = 3
N_HASHES = 48
N_BANDS = 16
ROWS_PER_BAND = N_HASHES // N_BANDS
JACCARD_T = 0.8

# Skew guard for the LSH candidate stage (VERDICT r1): a hot (band,
# key) bucket — boilerplate-heavy corpora produce them — goes
# quadratic in the self-join. Buckets larger than this are DROPPED
# from candidate generation: a true near-dup cluster of size m needs
# only ONE of its 16 bands under the cap to surface every pair, and a
# bucket this large at J >= 0.8 is overwhelmingly a low-similarity
# boilerplate collision, not a duplicate cluster. 512 is far above
# any fixture cluster (<= 5 docs) yet bounds per-bucket join work to
# 512^2 rows regardless of corpus size.
MAX_BUCKET_DOCS = 512


def _shingle_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, sharr: array<string>) with per-doc-distinct shingles.

    Dedup happens at the ARRAY level (array_distinct) so both the
    exploded (doc_id, shingle) pairs and the per-doc counts derive
    narrowly — zero extra shuffles — instead of explode → global
    distinct → groupBy (two shuffles of the full shingle set).

    The repartition by doc_id matters twice: (1) a small/compacted
    source (locally: one parquet file = ONE partition) would otherwise
    run the entire shingling+hashing single-threaded; (2) downstream
    per-doc groupBys reuse this partitioning, so the shuffle is paid
    once. At 100 TB the source is already many partitions and AQE
    coalesces this exchange to a near-no-op.
    """
    return docs.repartition("doc_id").select(
        "doc_id", F.array_distinct(shingles("text", SHINGLE_K)).alias("sharr")
    )


def _token_hash_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, sh: array<bigint>) — the k-gram shingle relation as
    INTEGER combines of per-token xxhash64 draws (round 16, guide
    §2.3 "narrower payload" / VERDICT r15 #4): each token is hashed
    once, and a window's identity is xxhash64 over its k token
    hashes, so the whole-corpus shingling pass never materializes the
    space-joined k-gram strings (measured: the string pass min 1.05 s
    / med 1.35 s at sf0.1 vs 0.57/0.90 for this relation, same
    per-doc distinct counts). Downstream Jaccard/LSH arithmetic is
    identical on any injective window representation — the exact
    argument the c99 pipeline's pre-hashed base has shipped under
    since round 8 (collisions aside, same 64-bit class as
    xxhash64(string)); the exact-Jaccard-over-strings oracle pins
    equality per fixture. The short-document rule is preserved in
    hash space: a doc with fewer than k tokens yields ONE shingle
    hashing its full token-hash array, and cross-regime collisions
    (a <k-token shingle equaling a k-token window) are impossible in
    the string regime and 64-bit-chance here, same as any pair."""
    k = SHINGLE_K
    toks = F.transform(tokens("text"), lambda t: F.xxhash64(t))
    d = docs.repartition("doc_id").select(
        "doc_id", toks.alias("th"), F.size(toks).alias("n")
    )
    windows = F.transform(
        F.slice("th", 1, F.col("n") - (k - 1)),
        lambda x, i: F.xxhash64(
            x, *[F.element_at("th", i + j + 1) for j in range(1, k)]
        ),
    )
    sh = F.when(F.col("n") >= k, windows).otherwise(
        F.array(F.xxhash64(F.col("th")))
    )
    return d.select("doc_id", F.array_distinct(sh).alias("sh"))


def _distinct_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct pairs — narrow (see _shingle_arrays)."""
    return _shingle_arrays(docs).select(
        "doc_id", F.explode("sharr").alias("shingle")
    )


def sql_shingles(key_col: str = "doc_id", distinct_rows: bool = False) -> str:
    """DuckDB mirror of _shingle_arrays keyed by ``key_col`` — ONE
    source of truth for the shingle rule (k, short-doc fallback) so
    per-doc and per-source oracles cannot drift (round-3 review)."""
    sel = "SELECT DISTINCT" if distinct_rows else "SELECT"
    grams = ", ".join(f"toks[i+{j}]" for j in range(SHINGLE_K))
    return f"""
    {sel} {key_col}, unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(toks) - {SHINGLE_K - 1}, 1)),
             i -> concat_ws(' ', {grams})))) AS shingle
    FROM (SELECT {key_col}, {sql_tokens('text')} AS toks FROM documents)
"""


SQL_SHINGLES = sql_shingles()

SQL_EXACT_JACCARD_PAIRS = f"""
    WITH sh AS ({SQL_SHINGLES}),
    n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b,
           round(c * 1.0 / (na.n + nb.n - c), 6) AS jaccard
    FROM common
    JOIN n na ON na.doc_id = doc_a
    JOIN n nb ON nb.doc_id = doc_b
    WHERE c * 1.0 / (na.n + nb.n - c) >= {JACCARD_T}
    ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# C2 — MinHash + LSH near-dup
# ---------------------------------------------------------------------------

@query(
    "c02_dedup_minhash_lsh",
    SQL_EXACT_JACCARD_PAIRS,
    doc="""Oracle = exact Jaccard over all pairs. Valid because LSH
    with 16 bands × 3 rows misses a pair with probability (1 - J^3)^16:
    about 1e-5 at the 0.8 threshold, 8e-10 at J = 0.9 and 2e-20 at the
    fixture's duplicate level (J ≈ 0.98). The 8 × 4 banding it replaced
    missed 1.5% of pairs at J = 0.8, and did miss pairs at J 0.81-0.87
    on the benchmark's seeded corpora (tests/test_llm.py).""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: shingle → 48-way MinHash → 16×3 LSH banding → candidate
    pairs → exact-Jaccard verify ≥ 0.8.

    Pipeline is pure DataFrame ops: narrow array transforms for
    signatures, one-exchange banding for candidates, array-intersect
    joins for verify.
    """
    docs = load_table(spark, sf_dir, "documents")
    # pre-hashed integer shingles (round 16 — see _token_hash_shingles
    # for the measurement and the equivalence argument); the helper
    # materializes the hashed relation both the signature and verify
    # paths read — no string cache
    return _minhash_verified_pairs(_token_hash_shingles(docs), "sh")


def _signed64(x: int) -> int:
    x &= (1 << 64) - 1
    return x - (1 << 64) if x >= 1 << 63 else x


def _minhash_mix(i: int):
    """The i-th MinHash "permutation": xor with a golden-ratio-spaced
    constant, then a shift-xor scramble — both steps 64-bit bijections
    (so min over the mix is a valid MinHash draw) built ONLY from
    xor/shift, because ANSI mode (Spark 4 default) rejects the classic
    wrapping multiply-add permutation with ARITHMETIC_OVERFLOW."""
    c = F.lit(_signed64(0x9E3779B97F4A7C15 * (2 * i + 1)))

    def mix(h):
        y = h.bitwiseXOR(c)
        return y.bitwiseXOR(F.shiftrightunsigned(y, 29))

    return mix


def _minhash_mix_sql(i: int, h: str = "h") -> str:
    """SQL spelling of _minhash_mix — the same xor/shift bijection
    with the seed constant inlined as a bigint literal. ``h ^ c``
    appears twice (SQL lambdas cannot bind a local), which costs one
    extra XOR per element at runtime but nothing observable: the
    VALUES are identical to the Column spelling (pinned by
    tests/test_llm.py::test_minhash_band_rows_sql_spelling)."""
    c = _signed64(0x9E3779B97F4A7C15 * (2 * i + 1))
    return f"(({h} ^ {c}L) ^ shiftrightunsigned({h} ^ {c}L, 29))"


# the two projection stages of minhash_band_rows, formatted ONCE at
# import: 48 signature mins and the 16 band structs. Spelled as SQL
# strings because the Column-by-Column build (32 × array_min(transform)
# with Python lambdas) cost ~1.3 s of py4j round trips PER
# CONSTRUCTION of the c02 plan — measured round 15, half the query's
# bench time; parsing two selectExpr strings is milliseconds.
_MINHASH_SIG_SQL = [
    f"array_min(transform(harr, h -> {_minhash_mix_sql(i)})) AS h{i}"
    for i in range(N_HASHES)
]
_MINHASH_BANDS_SQL = (
    "explode(array("
    + ", ".join(
        "named_struct('band', {b}, 'key', xxhash64({cols}))".format(
            b=b,
            cols=", ".join(
                f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    )
    + ")) AS bk"
)


def minhash_band_rows(hashed: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH band rows from a (doc_id, harr)
    hashed-shingle relation: 48 per-seed bit mixes folded to 16x3 band
    keys, all narrow (no shuffle). ONE spelling shared by the one-shot
    pipeline below and s26's incremental band-bucket state
    (streaming/stream_queries.py) — s26's contract is value-equality
    with this pipeline, so the signature/banding construction must be
    literally the same code (code-review r11)."""
    sig = hashed.selectExpr("doc_id", *_MINHASH_SIG_SQL)
    return sig.selectExpr("doc_id", _MINHASH_BANDS_SQL).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _minhash_verified_pairs(base: DataFrame, arr_col: str) -> DataFrame:
    """Shared MinHash→LSH→verify pipeline (c02 and the c99 unified
    pipeline): ``base`` is (doc_id, <arr_col>) with per-doc-DISTINCT
    items (shingle strings for c02, pre-hashed shingle longs for c99 —
    Jaccard is identical either way, collisions aside); returns the
    exact-verified near-dup pairs (doc_a, doc_b, jaccard >= 0.8),
    ordered.

    48 minhash values per doc are computed NARROWLY from the per-doc
    array (no explode, NO shuffle): each item is hashed ONCE
    (xxhash64), then the 48 "permutations" are per-seed bit mixes
    (_minhash_mix) — turning 48 hashes per item into 1 hash + 48
    codegen'd bit mixes. Signatures never reach the output (only
    exact-verified pairs do), so the fast JVM-intrinsic hash is fine
    here — no md5 portability constraint.

    The exact-Jaccard VERIFY also runs on the hashed arrays, not the
    original items: |A∩B| and |A|,|B| are identical on a
    collision-free hashed set, so the jaccard VALUE is unchanged,
    while each candidate pair ships two arrays of 8-byte longs
    instead of shingle strings (~2.5× lighter, and the dominant wire
    cost once near-dup cliques make true pairs quadratic — the
    round-8 100× stress measured the string-array verify at 394 s
    where the hashed path does strictly more work in 77 s). Only the
    hashed relation is cached; original arrays are never re-read.
    """
    # EAGER materialization, not .cache() (round 15): the relation is
    # consumed from three independent subtrees (banding + both verify
    # join sides), and AQE submits their map stages CONCURRENTLY — all
    # three raced the unmaterialized cache and each re-ran the full
    # shingle+hash pass (three identical 0.23 s map stages in the
    # event-log profile). One eager checkpoint computes it exactly
    # once; downstream stages read the materialized blocks.
    hashed = base.select(
        "doc_id",
        F.array_distinct(
            F.transform(arr_col, lambda s: F.xxhash64(s))
        ).alias("harr"),
    ).localCheckpoint(eager=True)
    bands = minhash_band_rows(hashed)
    # Skew guard + pair generation in ONE exchange on (band, key):
    # a window count tags every row with its bucket size, hot buckets
    # (> MAX_BUCKET_DOCS) are dropped BEFORE any list materializes
    # (window spills per group; nothing collects an unbounded array),
    # and the groupBy that follows reuses the window's partitioning —
    # no second shuffle. Candidate pairs then come from the bounded
    # per-bucket array via a JVM higher-order cross of ids with
    # itself (≤ cap² struct rows per bucket) instead of a self-join:
    # no join, no second scan of the band relation.
    w = Window.partitionBy("band", "key")
    buckets = (
        bands.withColumn("bucket_docs", F.count("*").over(w))
        .filter((F.col("bucket_docs") <= MAX_BUCKET_DOCS) & (F.col("bucket_docs") >= 2))
        .groupBy("band", "key")
        .agg(F.collect_list("doc_id").alias("ids"))
    )
    pair_structs = F.filter(
        F.flatten(
            F.transform(
                "ids",
                lambda x: F.transform(
                    "ids", lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
                ),
            )
        ),
        lambda p: p["doc_a"] < p["doc_b"],
    )
    cands = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )

    # exact-Jaccard verification, candidates only: join each side's
    # shingle ARRAY onto the pair and intersect element-wise in the
    # JVM (array_intersect over per-doc-distinct arrays). Two hash
    # joins keyed by doc id — NO re-explode of the shingle relation
    # and no groupBy: the old shape shuffled |corpus| × ~shingles
    # exploded rows through a join + count; this one moves only the
    # candidate rows plus their two arrays. No hard broadcast hints:
    # the candidate set is usually small but NOT provably bounded
    # (VERDICT r1) — AQE picks broadcast at runtime when a side is
    # actually small.
    arr_a = hashed.select(F.col("doc_id").alias("doc_a"), F.col("harr").alias("arr_a"))
    arr_b = hashed.select(F.col("doc_id").alias("doc_b"), F.col("harr").alias("arr_b"))
    paired = cands.join(arr_a, "doc_a").join(arr_b, "doc_b")
    c = F.size(F.array_intersect("arr_a", "arr_b"))
    jac = c / (F.size("arr_a") + F.size("arr_b") - c)
    return (
        paired.filter(jac >= JACCARD_T)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


@query("c02_dedup_ngram_jaccard_baseline", SQL_EXACT_JACCARD_PAIRS)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2b: exact n-gram Jaccard pairs ≥ 0.8 — the quadratic-verify
    BASELINE the LSH path prunes (named _baseline per VERDICT r1 so
    nobody reaches for it at scale). Joins on shared shingles, so only
    pairs with ≥1 common shingle are ever materialized (still the
    expensive path at 100 TB; use c02_dedup_minhash_lsh there)."""
    docs = load_table(spark, sf_dir, "documents")
    base = _shingle_arrays(docs).cache()
    sh = base.select("doc_id", F.explode("sharr").alias("shingle"))
    counts = base.select("doc_id", F.size("sharr").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    na = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    # No broadcast hints — the per-doc count relation grows with the
    # corpus; AQE broadcasts it only while it is actually small.
    return (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(jac >= JACCARD_T)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# C2c — SimHash
# ---------------------------------------------------------------------------

SIM_BITS = 60  # md5_64 yields 60 usable bits


def _simhash_sql() -> str:
    bit_sums = ",\n           ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(SIM_BITS)
    )
    recombine = " + ".join(
        f"CASE WHEN b{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END" for b in range(SIM_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({sql_tokens('text')}) AS tok FROM documents
    ),
    hashed AS (SELECT doc_id, {sql_md5_64('tok')} AS h FROM toks),
    bits AS (SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id)
    SELECT doc_id, {recombine} AS simhash FROM bits ORDER BY doc_id
    """


@query("c02_dedup_simhash", _simhash_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2c: 60-bit SimHash per document (frequency-weighted token
    hashes). Near-dups are then hamming-close fingerprints; the
    fingerprint itself is the oracle-checked output."""
    docs = load_table(spark, sf_dir, "documents")
    # Same single-partition-source consideration as _shingle_arrays:
    # parallelize the token hashing, and the groupBy reuses the keying.
    toks = docs.repartition("doc_id").select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    )
    hashed = toks.select("doc_id", md5_64("tok").alias("h"))
    # both projection stages spelled as SQL strings formatted at call
    # time (round 16 — the c02 _MINHASH_SIG_SQL discipline, guide
    # §1.2): the Column-by-Column build (60 sum/when aggregates plus a
    # 60-term nested sim chain) paid one py4j round trip per operator
    # on every plan construction; parsing 61 expression strings is
    # milliseconds. Arithmetic is token-identical, so the c02c oracle
    # hash is untouched.
    bit_aggs = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
        )
        for b in range(SIM_BITS)
    ]
    bits = hashed.groupBy("doc_id").agg(*bit_aggs)
    sim_sql = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIM_BITS)
    )
    return bits.selectExpr("doc_id", f"({sim_sql}) AS simhash").orderBy("doc_id")


# ---------------------------------------------------------------------------
# C2e — duplicate-group assignment (connected components over pair graph)
# ---------------------------------------------------------------------------

SQL_COMPONENTS = f"""
    WITH RECURSIVE
    pairs AS ({SQL_EXACT_JACCARD_PAIRS.replace('ORDER BY doc_a, doc_b', '')}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(id, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lbl FROM edges e JOIN reach r ON r.id = e.src
    ),
    comp AS (SELECT id AS doc_id, MIN(lbl) AS component_id FROM reach GROUP BY id),
    sized AS (SELECT component_id, COUNT(*) AS group_size FROM comp GROUP BY component_id)
    SELECT c.doc_id, c.component_id, s.group_size,
           c.doc_id = c.component_id AS is_canonical
    FROM comp c JOIN sized s USING (component_id)
    ORDER BY c.doc_id
"""

MAX_CC_ITERATIONS = 20


def _materialize(df: DataFrame, mode: str) -> DataFrame:
    """Truncate lineage between component-loop rounds.

    ``mode="local"`` (default): ``localCheckpoint`` — executor-local
    blocks, fastest, NOT fault-tolerant (an executor loss aborts the
    job). Right choice for local[] and short interactive runs.

    ``mode="reliable"``: ``checkpoint`` to the session's checkpoint
    dir (``spark.sparkContext.setCheckpointDir``) — survives executor
    loss, the correct setting for a 100-TB cluster run where a
    multi-round loop would otherwise recompute the whole LSH pipeline
    on one lost node. Raises up front if no checkpoint dir is set,
    rather than failing mid-loop inside the JVM.
    """
    if mode == "local":
        return df.localCheckpoint(eager=True)
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().checkpointDir().isEmpty():
            raise ValueError(
                "checkpoint='reliable' requires spark.sparkContext"
                ".setCheckpointDir(...) to be set first"
            )
        return df.checkpoint(eager=True)
    raise ValueError(f"unknown checkpoint mode: {mode!r} (use 'local'|'reliable')")


def min_label_components(
    vertices: DataFrame, pairs: DataFrame, *, checkpoint: str = "local"
) -> DataFrame:
    """Connected components over an undirected pair graph, as pure
    DataFrame ops. ``vertices``: one column ``id``; ``pairs``: columns
    ``a``, ``b``. Returns (id, component_id) where component_id is the
    minimum id reachable from the vertex.

    Iterative min-label propagation: each round every vertex takes
    min(own label, neighbors' labels); converged when no label
    changes. Rounds = graph diameter — near-dup graphs are short
    chains of tiny clusters, so 2–4 rounds in practice. Each round is
    ONE shuffle join on the edge list plus a groupBy AQE co-partitions
    with it; labels are localCheckpoint'ed per round to truncate
    lineage (a production cluster would use reliable checkpointing
    for fault tolerance). The convergence count rides INSIDE the
    checkpointed relation — a filter+count over materialized rows,
    not a second label-vs-label join (round-3 bench: that extra join
    was ~a third of each round's wall clock). For adversarial
    long-diameter graphs swap the body for alternating large-star /
    small-star (same join shape, O(log n) rounds).

    Shared by c02_dedup_components (shingle near-dup graph) and
    c31_semantic_dedup (embedding-cosine graph).
    """
    edges = _materialize(
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
            pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        ),
        checkpoint,
    )
    labels = _materialize(
        vertices.select("id", F.col("id").alias("lbl")), checkpoint
    )
    changed = -1
    for _ in range(MAX_CC_ITERATIONS):
        nbr_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least("lbl", F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
                (F.coalesce(F.col("nbr_lbl") < F.col("lbl"), F.lit(False))).alias(
                    "improved"
                ),
            )
        )
        new_labels = _materialize(new_labels, checkpoint)
        changed = new_labels.filter(F.col("improved")).count()
        labels = new_labels.drop("improved")
        if changed == 0:
            break
    if changed != 0:
        # Never return silently-unconverged components: a downstream
        # keep-list would retain duplicates. Hitting the cap means the
        # graph is pathological (diameter > cap) and needs the
        # alternating large-star/small-star variant instead.
        raise RuntimeError(
            f"min_label_components: not converged after {MAX_CC_ITERATIONS} "
            f"rounds ({changed} labels still changing) — use star_components "
            f"for long-diameter graphs (O(log n) rounds)"
        )
    return labels.select("id", F.col("lbl").alias("component_id"))


def star_components(
    vertices: DataFrame, pairs: DataFrame, *, checkpoint: str = "local"
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the long-diameter-safe twin of
    :func:`min_label_components`, same (vertices(id), pairs(a,b)) →
    (id, component_id=min reachable id) contract.

    Min-label propagation needs diameter-many rounds; a path graph of
    n vertices needs n-1. Star contraction converges in O(log n)
    rounds on ANY graph: each round every node re-attaches to the
    minimum of its neighborhood, halving tree heights.

    - large-star: over symmetric edges, each node u emits (v, m) for
      its strictly-larger neighbors v, where m = min(N(u) ∪ {u}).
    - small-star: over min-oriented edges (larger endpoint first),
      each node u emits (v, m) for v ∈ N(u) ∪ {u}, v ≠ m.

    Both are ONE groupBy (min per node) + ONE join per round — the
    same shuffle shape as a min-label round, so the 100-TB cost model
    is identical per round with logarithmically fewer rounds. Isolated
    vertices never enter the edge set and label themselves at the end
    via the left join.
    """
    edges = _materialize(
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        checkpoint,
    )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = oriented.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        nbrs = oriented.unionAll(
            oriented.select("u", F.col("u").alias("v")).distinct()
        )
        return (
            nbrs.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    # O(log n) with slack; hitting this cap indicates a bug, not a
    # pathological graph (star contraction has no diameter dependence).
    max_rounds = 40
    for _ in range(max_rounds):
        contracted = _materialize(small_star(large_star(edges)), checkpoint)
        changed = (
            contracted.exceptAll(edges).limit(1).count()
            + edges.exceptAll(contracted).limit(1).count()
        )
        edges = contracted
        if changed == 0:
            break
    else:  # pragma: no cover - defensive, see cap comment
        raise RuntimeError(f"star_components: not converged after {max_rounds} rounds")

    # Fixed point: every non-root points directly at its component
    # minimum. Roots and isolated vertices label themselves.
    roots = edges.select(F.col("u").alias("id"), F.col("v").alias("component_id"))
    return vertices.select("id").join(roots, "id", "left").select(
        "id", F.coalesce("component_id", "id").alias("component_id")
    )


@query(
    "c02_dedup_components",
    SQL_COMPONENTS,
    doc="""Oracle = DuckDB recursive CTE over the exact-Jaccard pair
    graph (valid for the same recall reason as c02_dedup_minhash_lsh:
    LSH misses nothing at the fixture's duplicate level).""",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2e: duplicate-GROUP assignment — the step after pair finding
    that an actual dedup pipeline needs: connected components over the
    verified near-dup pairs, so A~B and B~C collapse into one group
    {A,B,C} with a single canonical keeper (the min doc_id).

    Iterative min-label propagation as pure DataFrame ops: each round
    every vertex takes min(own label, neighbors' labels); converged
    when no label changes. Rounds = graph diameter, and near-dup
    graphs are short chains of tiny clusters (fixture diameter <= 3;
    boilerplate mega-components are pre-cut by the LSH bucket cap), so
    this is 2-4 rounds in practice. Each round is ONE shuffle join on
    the edge list plus a groupBy that AQE co-partitions with it;
    labels are localCheckpoint'ed per round to truncate lineage (a
    production run on a real cluster would use reliable checkpointing
    for fault tolerance instead). For adversarial long-diameter graphs
    swap the propagation body for alternating large-star/small-star
    (same join shape, O(log n) rounds) — the driver loop and the
    convergence test stay identical.

    Output: every document with its duplicate-group id, group size,
    and the keep/drop verdict (is_canonical) — the keep-list a
    training-data pipeline actually consumes.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    comp = min_label_components(
        docs.select(F.col("doc_id").alias("id")), pairs
    ).select(F.col("id").alias("doc_id"), "component_id")
    sized = comp.groupBy("component_id").agg(F.count("*").alias("group_size"))
    return (
        comp.join(sized, "component_id")
        .select(
            "doc_id",
            "component_id",
            "group_size",
            (F.col("doc_id") == F.col("component_id")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


@query(
    "c70_star_components",
    SQL_COMPONENTS,
    doc="""Same oracle as c02_dedup_components — large-star/small-star
    must produce byte-identical groups to min-label propagation.""",
)
def dedup_star_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2e variant (VERDICT r4 ask #6): the same duplicate-group
    assignment as c02_dedup_components, computed with alternating
    large-star/small-star contraction instead of min-label
    propagation. O(log n) rounds regardless of graph diameter — the
    variant a 100-TB run reaches for when boilerplate chains make the
    near-dup graph deep. Gated to the identical DuckDB recursive-CTE
    oracle, so both algorithms are pinned to the same answer."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    comp = star_components(
        docs.select(F.col("doc_id").alias("id")), pairs
    ).select(F.col("id").alias("doc_id"), "component_id")
    sized = comp.groupBy("component_id").agg(F.count("*").alias("group_size"))
    return (
        comp.join(sized, "component_id")
        .select(
            "doc_id",
            "component_id",
            "group_size",
            (F.col("doc_id") == F.col("component_id")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# C10 — decontamination (train/benchmark n-gram overlap)
# ---------------------------------------------------------------------------

# src0 plays the held-out benchmark; everything else is training data.
BENCH_SOURCE = "src0"
CONTAM_T = 0.2  # flag train docs sharing >= 20% of a bench doc's shingles


@query(
    "c10_decontamination",
    f"""
    WITH sh AS ({SQL_SHINGLES}),
    docs2 AS (SELECT doc_id, source FROM documents),
    bench AS (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN docs2 USING (doc_id)
      WHERE docs2.source = '{BENCH_SOURCE}'
    ),
    train AS (
      SELECT sh.doc_id, sh.shingle FROM sh JOIN docs2 USING (doc_id)
      WHERE docs2.source != '{BENCH_SOURCE}'
    ),
    bn AS (SELECT doc_id, COUNT(*) AS n FROM bench GROUP BY doc_id),
    hits AS (
      SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc, COUNT(*) AS c
      FROM train t JOIN bench b USING (shingle)
      GROUP BY train_doc, bench_doc
    )
    SELECT train_doc, bench_doc,
           round(c * 1.0 / bn.n, 6) AS bench_overlap
    FROM hits JOIN bn ON bn.doc_id = bench_doc
    WHERE c * 1.0 / bn.n >= {CONTAM_T}
    ORDER BY train_doc, bench_doc
    """,
)
def decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: train/benchmark decontamination — flag training documents
    whose shingles cover >= 20% of any benchmark document (the
    train-test leakage check every pretraining corpus runs before a
    model sees it; src0 stands in for the held-out benchmark).

    Scale shape: the BENCHMARK side is small by nature (evals are
    thousands of docs, not billions) — its exploded shingle relation
    broadcasts via AQE, so the train corpus is scanned once and never
    shuffled whole; the groupBy aggregates only actual hits. With a
    giant benchmark the same plan degrades gracefully to a shuffle
    join on the shingle key.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = _distinct_shingles(docs)
    src = docs.select("doc_id", "source")
    labeled = sh.join(src, "doc_id")
    bench = labeled.filter(F.col("source") == BENCH_SOURCE).select(
        F.col("doc_id").alias("bench_doc"), "shingle"
    )
    train = labeled.filter(F.col("source") != BENCH_SOURCE).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    bn = bench.groupBy("bench_doc").agg(F.count("*").alias("n"))
    hits = (
        train.join(bench, "shingle")
        .groupBy("train_doc", "bench_doc")
        .agg(F.count("*").alias("c"))
    )
    frac = F.col("c") / F.col("n")
    return (
        hits.join(bn, "bench_doc")
        .filter(frac >= CONTAM_T)
        .select("train_doc", "bench_doc", F.round(frac, 6).alias("bench_overlap"))
        .orderBy("train_doc", "bench_doc")
    )


# ---------------------------------------------------------------------------
# C12 — chunk-level (line/paragraph-style) exact dedup
# ---------------------------------------------------------------------------

CHUNK_W = 10  # tokens per chunk


@query(
    "c12_chunk_dedup",
    f"""
    WITH t AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents),
    e AS (
      SELECT doc_id, toks,
             unnest(generate_series(
               1, greatest(CAST(ceil(len(toks) / {CHUNK_W}.0) AS BIGINT), 1)))
               AS i
      FROM t
    ),
    c AS (
      SELECT doc_id, i - 1 AS chunk_idx,
             {sql_md5_64(f"array_to_string(toks[((i-1)*{CHUNK_W}+1):((i-1)*{CHUNK_W}+{CHUNK_W})], ' ')")}
               AS h
      FROM e
    ),
    w AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx)
               AS rn
      FROM c
    ),
    kept AS (SELECT doc_id, COUNT(*) AS n_kept FROM w WHERE rn = 1 GROUP BY doc_id),
    tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM c GROUP BY doc_id)
    SELECT tot.doc_id, tot.n_chunks, coalesce(kept.n_kept, 0) AS n_kept
    FROM tot LEFT JOIN kept USING (doc_id)
    ORDER BY doc_id
    """,
)
def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12: chunk-level exact dedup (the C4/line-level rule adapted to
    unpunctuated fixture text): split every document into fixed
    {CHUNK_W}-token chunks, keep only the globally-first occurrence of
    each chunk (first = smallest (doc_id, chunk_idx)), and report how
    much of each document survives — the cross-document boilerplate
    scrub that runs after whole-doc dedup in a pretraining pipeline.

    Scale shape: the global winner per chunk is ONE combinable groupBy
    on a 60-bit chunk hash whose shuffle rows are (hash, min-pair) —
    never chunk text; per-doc totals are a second combinable agg on
    doc_id. No window over the full corpus, no pair join.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_chunks = F.greatest(
        F.ceil(F.size(toks) / F.lit(float(CHUNK_W))).cast("int"), F.lit(1)
    )
    idx = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i * CHUNK_W + 1, CHUNK_W))
    )
    e = docs.select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk")
    ).select("doc_id", "chunk_idx", md5_64("chunk").alias("h"))
    winners = (
        e.groupBy("h")
        .agg(F.min(F.struct("doc_id", "chunk_idx")).alias("w"))
        .select(F.col("w.doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_kept"))
    )
    tot = e.groupBy("doc_id").agg(F.count("*").alias("n_chunks"))
    return (
        tot.join(winners, "doc_id", "left")
        .select(
            "doc_id", "n_chunks", F.coalesce("n_kept", F.lit(0)).alias("n_kept")
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# C22 — cross-source content-overlap matrix (round 3)
# ---------------------------------------------------------------------------

SQL_SOURCE_SHINGLES = sql_shingles("source", distinct_rows=True)


@query(
    "c22_source_overlap",
    f"""
    WITH sh AS ({SQL_SOURCE_SHINGLES}),
    n AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
    c AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY src_a, src_b
    )
    SELECT src_a, src_b, n_shared,
           round(n_shared * 1.0 / (na.n + nb.n - n_shared), 6) AS jaccard
    FROM c
    JOIN n na ON na.source = src_a
    JOIN n nb ON nb.source = src_b
    ORDER BY src_a, src_b
    """,
)
def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C22: cross-source content-overlap matrix — distinct-shingle
    Jaccard between every source pair. The dataset-curation question
    "which of my crawls/dumps duplicate each other" answered before
    any expensive mixing decision.

    Scale shape: (source, shingle) distincts derive narrowly per doc
    (array_distinct before explode); the equi-join on shingle emits at
    most n_sources² rows per shingle (sources are a small dimension —
    hundreds at 100 TB — so no bucket cap needed, unlike doc-level
    LSH); both aggregations are map-side combinable. One shuffle on
    shingle, one on the (src_a, src_b) pair key.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.repartition("doc_id")
        .select(
            "source",
            F.explode(F.array_distinct(shingles("text", SHINGLE_K))).alias("shingle"),
        )
        .distinct()
    )
    n = sh.groupBy("source").agg(F.count("*").alias("n"))
    a = sh.select(F.col("source").alias("src_a"), "shingle")
    b = sh.select(F.col("source").alias("src_b"), "shingle")
    c = (
        a.join(b, "shingle")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared"))
    )
    na = n.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    nb = n.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    jac = F.col("n_shared") * 1.0 / (F.col("na") + F.col("nb") - F.col("n_shared"))
    return (
        c.join(na, "src_a")
        .join(nb, "src_b")
        .select("src_a", "src_b", "n_shared", F.round(jac, 6).alias("jaccard"))
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# C23 — source-priority dedup (round 3)
# ---------------------------------------------------------------------------

@query(
    "c23_source_priority_dedup",
    f"""
    WITH h AS (
      SELECT doc_id, source, md5({sql_normalize_text('text')}) AS content_hash
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, content_hash,
             row_number() OVER (PARTITION BY content_hash
                                ORDER BY source, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY content_hash) AS n_copies
      FROM h
    )
    SELECT content_hash, doc_id AS keep_doc_id, source AS keep_source, n_copies
    FROM ranked WHERE rn = 1
    ORDER BY keep_doc_id
    """,
)
def source_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C23: "keep the best copy" dedup — one survivor per exact
    content hash, chosen by source priority (lexical source order
    stands in for a quality ranking; tie-break doc_id). The standard
    refinement of C1 when the same document exists in a curated dump
    AND a raw crawl: the curated copy must win, not the lowest id.

    Scale shape: one shuffle on the 16-byte content hash; both window
    functions share the (hash) partitioning so Catalyst plans a single
    Exchange + Sort. The shuffle carries (hash, source, doc_id) — 
    never the document text.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id", "source", F.md5(normalize_text("text")).alias("content_hash")
    )
    w = Window.partitionBy("content_hash").orderBy("source", "doc_id")
    wc = Window.partitionBy("content_hash")
    return (
        h.withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count("*").over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "content_hash",
            F.col("doc_id").alias("keep_doc_id"),
            F.col("source").alias("keep_source"),
            "n_copies",
        )
        .orderBy("keep_doc_id")
    )


# ---------------------------------------------------------------------------
# C25 — per-doc n-gram novelty (round 3)
# ---------------------------------------------------------------------------

@query(
    "c25_ngram_novelty",
    f"""
    WITH sh AS ({SQL_SHINGLES}),
    first AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle),
    per_doc AS (
      SELECT sh.doc_id,
             COUNT(*) AS n_grams,
             COUNT(*) FILTER (WHERE f.first_doc = sh.doc_id) AS n_novel
      FROM sh JOIN first f ON f.shingle = sh.shingle
      GROUP BY sh.doc_id
    )
    SELECT doc_id, n_grams, n_novel,
           round(n_novel * 1.0 / n_grams, 6) AS novelty
    FROM per_doc
    ORDER BY doc_id
    """,
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C25: per-doc n-gram novelty — the fraction of a document's
    distinct 3-gram shingles it contributes FIRST to the corpus
    (doc_id order = ingestion order). The curation signal behind
    "stop crawling this source, it adds nothing new" / novelty-decay
    curves over a stream of documents.

    Scale shape: shingle first-owners are one combinable min-agg over
    the exploded distinct shingles; the ownership join is an equi-join
    on shingle whose left side reuses the same derivation; the final
    per-doc rollup is combinable. Two shuffles total (shingle, then
    doc_id) — no windows over the whole corpus, no driver state.
    """
    sh = _distinct_shingles(load_table(spark, sf_dir, "documents"))
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count_if(F.col("first_doc") == F.col("doc_id")).alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.round(F.col("n_novel") * 1.0 / F.col("n_grams"), 6).alias("novelty"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# C28 — containment (asymmetric near-dup) pairs (round 3, x_-parked)
# ---------------------------------------------------------------------------

CONTAINMENT_T = 0.9


@query(
    "c28_containment_pairs",
    f"""
    WITH sh AS ({SQL_SHINGLES}),
    n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b,
           round(c * 1.0 / na.n, 6) AS containment
    FROM common
    JOIN n na ON na.doc_id = doc_a
    WHERE c * 1.0 / na.n >= {CONTAINMENT_T}
    ORDER BY doc_a, doc_b
    """,
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C28: shingle CONTAINMENT pairs — |A∩B| / |A| ≥ {CONTAINMENT_T},
    the asymmetric score that catches doc A quoted/embedded inside a
    larger doc B, which symmetric Jaccard (c02) structurally misses
    (a small doc inside a big one has low Jaccard but containment 1).
    Ordered pairs: (a,b) and (b,a) score differently by design.

    Scale note: this is the exact-verify formulation (one shingle
    equi-join + combinable counts — the c02b baseline shape). At
    100 TB the candidate step is prefix filtering on the rarest
    shingles per doc (sort shingles by global df, index only the first
    few) before this same verify join — the MinHash/LSH trick does NOT
    transfer because minhash estimates Jaccard, not containment.
    """
    sh = _distinct_shingles(load_table(spark, sf_dir, "documents"))
    n = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    na = n.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    score = F.col("c") * 1.0 / F.col("na")
    return (
        common.join(na, "doc_a")
        .filter(score >= CONTAINMENT_T)
        .select("doc_a", "doc_b", F.round(score, 6).alias("containment"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# C29 — truncation/prefix duplicates (round 3, x_-parked)
# ---------------------------------------------------------------------------

PREFIX_K = 12  # tokens hashed for the anchor bucket


@query(
    "c29_prefix_duplicates",
    f"""
    WITH t AS (
      SELECT doc_id, {sql_normalize_text('text')} AS norm,
             {sql_tokens('text')} AS toks
      FROM documents
    ),
    a AS (
      SELECT doc_id, norm, toks, len(toks) AS n FROM t WHERE len(toks) >= 1
    ),
    s AS (
      SELECT doc_id, norm, n, least(n, {PREFIX_K}) AS plen,
             {sql_md5_64(f"array_to_string(toks[1:least(n, {PREFIX_K})], ' ')")} AS anchor
      FROM a
    ),
    l AS (
      SELECT doc_id, n, g.plen,
             {sql_md5_64("array_to_string(toks[1:g.plen], ' ')")} AS anchor
      FROM a CROSS JOIN
           (SELECT unnest(generate_series(1, {PREFIX_K})) AS plen) g
      WHERE g.plen <= least(n, {PREFIX_K})
    )
    SELECT s.doc_id AS short_doc, l.doc_id AS long_doc,
           s.n AS short_tokens, l.n AS long_tokens
    FROM s JOIN l
      ON s.anchor = l.anchor AND s.plen = l.plen
     AND s.doc_id <> l.doc_id
     AND (s.n < l.n OR (s.n = l.n AND s.doc_id < l.doc_id))
    JOIN a la ON la.doc_id = l.doc_id
    WHERE starts_with(la.norm, s.norm)
    ORDER BY short_doc, long_doc
    """,
)
def prefix_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C29: truncation-artifact detection — doc S whose entire text is
    a PREFIX of a longer doc L (the classic crawl artifact: the same
    page captured whole and cut off). Jaccard misses these when the
    length ratio is extreme; containment (c28) catches the shingle
    overlap but not strict prefix-ness.

    Shape: anchor-bucket on the md5 of a token prefix. The short side
    anchors on its first min(n, {PREFIX_K}) tokens; the long side
    emits one anchor per prefix length 1..min(n, {PREFIX_K}) and the
    join matches on (anchor, plen) — so a short doc with fewer than
    {PREFIX_K} tokens still finds its extensions (ADVICE r3: a single
    fixed-{PREFIX_K} anchor silently missed those). Candidates then
    get one startswith verify against the long doc's text, re-joined
    by id so the ×{PREFIX_K} anchor fan-out never carries document
    text through the shuffle. Ties (identical docs) keep the lower id
    as "short". Remaining caveat: anchors live on token boundaries, so
    a truncation mid-token (l_norm = s_norm + "x" with no space) is
    out of scope by definition — both engines apply the same rule.

    Scale: the anchor join is an equi-join; bucket sizes are duplicate
    -cluster sized, not corpus sized (boilerplate-heavy corpora would
    add c02's bucket cap on hot anchors). The long side fans out
    {PREFIX_K}× but carries only (id, n, plen, hash) — ~40 bytes/row.
    The verify is a narrow per-row string op on candidate pairs only —
    never all pairs.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    a = docs.select(
        "doc_id",
        normalize_text("text").alias("norm"),
        toks.alias("toks"),
        F.size(toks).alias("n"),
    ).filter(F.col("n") >= 1)
    plen_s = F.least(F.col("n"), F.lit(PREFIX_K))
    s = a.select(
        F.col("doc_id").alias("short_doc"),
        F.col("norm").alias("s_norm"),
        F.col("n").alias("short_tokens"),
        plen_s.alias("plen"),
        md5_64(F.concat_ws(" ", F.slice(F.col("toks"), 1, plen_s))).alias("anchor"),
    )
    long = (
        a.select(
            F.col("doc_id").alias("long_doc"),
            F.col("n").alias("long_tokens"),
            F.col("toks"),
            F.explode(
                F.sequence(F.lit(1), F.least(F.col("n"), F.lit(PREFIX_K)))
            ).alias("plen"),
        )
        .select(
            "long_doc",
            "long_tokens",
            "plen",
            md5_64(
                F.concat_ws(" ", F.slice(F.col("toks"), 1, F.col("plen")))
            ).alias("anchor"),
        )
    )
    cand = s.join(long, ["anchor", "plen"]).filter(
        (F.col("short_doc") != F.col("long_doc"))
        & (
            (F.col("short_tokens") < F.col("long_tokens"))
            | (
                (F.col("short_tokens") == F.col("long_tokens"))
                & (F.col("short_doc") < F.col("long_doc"))
            )
        )
    )
    lnorm = a.select(F.col("doc_id").alias("long_doc"), F.col("norm").alias("l_norm"))
    return (
        cand.join(lnorm, "long_doc")
        .filter(F.col("l_norm").startswith(F.col("s_norm")))
        .select("short_doc", "long_doc", "short_tokens", "long_tokens")
        .orderBy("short_doc", "long_doc")
    )


# ---------------------------------------------------------------------------
# C32 — directed contamination matrix (round 4; extends c10/c22)
# ---------------------------------------------------------------------------


@query(
    "c32_contamination_matrix",
    f"""
    WITH sh AS ({SQL_SOURCE_SHINGLES}),
    n AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
    c AS (
      SELECT t.source AS train_src, e.source AS eval_src, COUNT(*) AS n_shared
      FROM sh t JOIN sh e ON t.shingle = e.shingle AND t.source <> e.source
      GROUP BY train_src, eval_src
    )
    SELECT train_src, eval_src, n_shared,
           round(n_shared * 1.0 / ne.n, 6) AS eval_coverage
    FROM c JOIN n ne ON ne.source = eval_src
    ORDER BY train_src, eval_src
    """,
)
def contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C32: the full directed contamination matrix (VERDICT r3 #2f) —
    for every ordered source pair (train, eval), the fraction of the
    eval source's distinct n-grams that also occur in the train
    source. c10 answers "is THIS benchmark leaked into my training
    mix"; c32 answers the curation-time generalization: which of my
    dumps contaminate which others, in which DIRECTION. Asymmetric by
    construction (a small eval swallowed by a big crawl shows
    coverage ~1 one way, ~0 the other), unlike c22's symmetric
    Jaccard.

    Scale shape: identical to c22 — per-source distinct shingles
    derive narrowly per doc, ONE equi-join on the shingle key emits at
    most n_sources² rows per shingle (sources are a small dimension),
    and both aggregations combine map-side. The directed output is
    free: the same join emits (a,b) and (b,a) symmetric hits and only
    the normalizing denominator differs.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.repartition("doc_id")
        .select(
            "source",
            F.explode(F.array_distinct(shingles("text", SHINGLE_K))).alias("shingle"),
        )
        .distinct()
    )
    n = sh.groupBy("source").agg(F.count("*").alias("n"))
    t = sh.select(F.col("source").alias("train_src"), "shingle")
    e = sh.select(F.col("source").alias("eval_src"), "shingle")
    c = (
        t.join(e, "shingle")
        .filter(F.col("train_src") != F.col("eval_src"))
        .groupBy("train_src", "eval_src")
        .agg(F.count("*").alias("n_shared"))
    )
    ne = n.select(F.col("source").alias("eval_src"), F.col("n").alias("ne"))
    cov = F.col("n_shared") * 1.0 / F.col("ne")
    return (
        c.join(ne, "eval_src")
        .select(
            "train_src", "eval_src", "n_shared", F.round(cov, 6).alias("eval_coverage")
        )
        .orderBy("train_src", "eval_src")
    )


# ---------------------------------------------------------------------------
# C34 — best-copy keeper per near-dup component (round 4)
# ---------------------------------------------------------------------------


@query(
    "c34_component_best_keeper",
    f"""
    WITH RECURSIVE
    pairs AS ({SQL_EXACT_JACCARD_PAIRS.replace('ORDER BY doc_a, doc_b', '')}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(id, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lbl FROM edges e JOIN reach r ON r.id = e.src
    ),
    comp AS (SELECT id AS doc_id, MIN(lbl) AS component_id FROM reach GROUP BY id),
    sized AS (
      SELECT component_id, COUNT(*) AS group_size FROM comp GROUP BY component_id
    ),
    ranked AS (
      SELECT c.component_id, d.doc_id, d.n_chars,
             row_number() OVER (
               PARTITION BY c.component_id
               ORDER BY d.n_chars DESC, d.doc_id) AS rn
      FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT r.component_id, s.group_size,
           r.doc_id AS keeper_doc, r.n_chars AS keeper_chars
    FROM ranked r JOIN sized s USING (component_id)
    WHERE r.rn = 1 AND s.group_size > 1
    ORDER BY r.component_id
    """,
)
def component_best_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C34: quality-aware canonical selection — c02 groups near-dups
    and keeps the MIN doc_id; real curation keeps the BEST copy. Per
    multi-doc duplicate component, keep the longest document
    (n_chars, tiebreak min doc_id) — the "fullest capture wins" rule
    that pairs with c29's truncation detection (the truncated copy
    loses). c23 applies the same idea per exact content hash; this
    operates on the transitive NEAR-dup groups.

    Scale shape: adds ONE broadcast-size join (component labels ×
    doc metadata) and a window partitioned by component on top of the
    shared component loop — the text itself never moves.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    comp = min_label_components(
        docs.select(F.col("doc_id").alias("id")), pairs
    ).select(F.col("id").alias("doc_id"), "component_id")
    sized = comp.groupBy("component_id").agg(F.count("*").alias("group_size"))
    w = Window.partitionBy("component_id").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    ranked = (
        comp.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        ranked.join(sized, "component_id")
        .filter(F.col("group_size") > 1)
        .select(
            "component_id",
            "group_size",
            F.col("doc_id").alias("keeper_doc"),
            F.col("n_chars").alias("keeper_chars"),
        )
        .orderBy("component_id")
    )


# ---------------------------------------------------------------------------
# C35 — incremental dedup (new batch vs standing corpus)
# ---------------------------------------------------------------------------


@query(
    "c35_incremental_dedup",
    f"""
    WITH h AS (
      SELECT doc_id, md5({sql_normalize_text('text')}) AS content_hash
      FROM documents
    ),
    corpus AS (
      SELECT content_hash, MIN(doc_id) AS dup_of
      FROM h WHERE doc_id % 2 = 0 GROUP BY content_hash
    ),
    incr AS (SELECT doc_id, content_hash FROM h WHERE doc_id % 2 = 1)
    SELECT i.doc_id, c.dup_of IS NULL AS is_new, c.dup_of
    FROM incr i LEFT JOIN corpus c USING (content_hash)
    ORDER BY i.doc_id
    """,
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C35: the daily-ingest shape of exact dedup — dedup a NEW batch
    (odd doc_ids stand in for today's crawl) against the standing
    corpus (even doc_ids) without re-deduping the corpus. Every new
    doc is either genuinely new or a duplicate of a specific corpus
    doc (dup_of).

    Scale shape: this is why dedup indexes exist — the corpus side
    collapses to (content_hash, min_id) ONCE (combinable agg,
    maintainable incrementally as a standing table keyed by hash),
    and each day's batch joins against it by hash: the 100 TB corpus
    text is never re-read, the join carries 16-byte hashes, and AQE
    broadcasts whichever side is small (normally the day's batch).
    The same index-join shape extends to MinHash bands for
    incremental NEAR-dup.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id", F.md5(normalize_text("text")).alias("content_hash")
    )
    corpus = (
        h.filter(F.col("doc_id") % 2 == 0)
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("dup_of"))
    )
    incr = h.filter(F.col("doc_id") % 2 == 1)
    return (
        incr.join(corpus, "content_hash", "left")
        .select(
            "doc_id",
            F.col("dup_of").isNull().alias("is_new"),
            "dup_of",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# C43 — near-dup pipeline evaluation (round 4, parked for round-5)
# ---------------------------------------------------------------------------


@query(
    "c43_neardup_eval",
    # placeholders patched below once both c02 oracles are registered
    """
    WITH truth AS ({TRUTH}),
    pred AS ({PRED}),
    tp AS (
      SELECT count(*) AS n_tp FROM truth t
      JOIN pred p ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b
    )
    SELECT (SELECT count(*) FROM truth) AS n_truth,
           (SELECT count(*) FROM pred) AS n_pred,
           (SELECT n_tp FROM tp) AS n_tp,
           round(CAST((SELECT n_tp FROM tp) AS DOUBLE)
                 / (SELECT count(*) FROM pred), 6) AS precision_,
           round(CAST((SELECT n_tp FROM tp) AS DOUBLE)
                 / (SELECT count(*) FROM truth), 6) AS recall_
    """,
)
def neardup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C43: precision/recall of the MinHash+LSH near-dup detector
    against the exact n-gram Jaccard baseline — the calibration run a
    dedup pipeline does before committing to a banding config (SURVEY
    §2 C2 row names LSH's recall trade; this measures it). Both sides
    ARE the registered c02 queries, so the eval grades the shipped
    plans.

    The fixture's planted dups are near-identical (J ≈ 0.98), so
    both precision and recall land at 1.0 here; the value of the
    entry is the harness — changing bands/rows or the threshold
    shows up as a changed row, hash-caught.

    Scale shape: both inputs are the (small) detected-pair sets; the
    TP join and the three counts are bounded by pair counts, not the
    corpus.
    """
    truth = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    pred = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("pa"), F.col("doc_b").alias("pb")
    )
    tp = truth.join(
        pred, (truth.doc_a == F.col("pa")) & (truth.doc_b == F.col("pb"))
    ).agg(F.count("*").alias("n_tp"))
    counts = (
        truth.agg(F.count("*").alias("n_truth"))
        .crossJoin(pred.agg(F.count("*").alias("n_pred")))
        .crossJoin(tp)  # three 1-row frames — bounded by construction
    )
    return counts.select(
        "n_truth",
        "n_pred",
        "n_tp",
        F.round(F.col("n_tp").cast("double") / F.col("n_pred"), 6).alias(
            "precision_"
        ),
        F.round(F.col("n_tp").cast("double") / F.col("n_truth"), 6).alias(
            "recall_"
        ),
    )


def _finalize_c43_oracle() -> None:
    from spark_dynamodb_spark.registry import REGISTRY

    spec = REGISTRY.resolve("c43_neardup_eval")
    truth_sql = REGISTRY.resolve("c02_dedup_ngram_jaccard_baseline").oracle
    pred_sql = REGISTRY.resolve("c02_dedup_minhash_lsh").oracle
    spec.oracle = spec.oracle.replace("{TRUTH}", truth_sql).replace(
        "{PRED}", pred_sql
    )


_finalize_c43_oracle()


# ---------------------------------------------------------------------------
# C75 — span-level decontamination (where the overlap is, not just that
# it exists — the c10 doc-level flag's surgical sibling)
# ---------------------------------------------------------------------------

C75_K = 6  # exact-match n-gram length (distinct from dedup's SHINGLE_K=3)
C75_MIN_SHARED = 2


@query(
    "c75_contamination_spans",
    f"""
    WITH tt AS (
      SELECT doc_id, source, {sql_tokens('text')} AS toks FROM documents
    ),
    tr AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(len(toks) - {C75_K - 1}, 0)),
               i -> struct_pack(pos := i,
                      h := {sql_md5_64("concat_ws(' ', " + ", ".join(f"toks[i+{j}]" for j in range(C75_K)) + ")")})))
               AS s
      FROM tt WHERE source != '{BENCH_SOURCE}'
    ),
    be AS (
      SELECT DISTINCT doc_id AS bench_doc,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - {C75_K - 1}, 0)),
               i -> {sql_md5_64("concat_ws(' ', " + ", ".join(f"toks[i+{j}]" for j in range(C75_K)) + ")")})))
               AS h
      FROM tt WHERE source = '{BENCH_SOURCE}'
    )
    SELECT tr.doc_id AS train_doc, be.bench_doc,
           COUNT(*) AS n_shared_grams,
           MIN(tr.s.pos) AS span_start,
           MAX(tr.s.pos) + {C75_K - 1} AS span_end
    FROM tr JOIN be ON be.h = tr.s.h
    GROUP BY train_doc, be.bench_doc
    HAVING COUNT(*) >= {C75_MIN_SHARED}
    ORDER BY train_doc, bench_doc
    """,
)
def contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C75: span-level benchmark decontamination (the GPT-3/PaLM
    n-gram approach, position-resolved) — for every (train doc, bench
    doc) pair sharing >= 2 exact 6-grams, report HOW MANY grams match
    and the token span [span_start, span_end] they occupy in the
    train doc. c10 answers "is this doc contaminated"; this answers
    "which tokens do I cut" — modern pipelines excise the span and
    keep the document.

    Scale shape: train grams derive narrowly (one transform over the
    token array, positions included — no posexplode shuffle until the
    equi-join); the join carries 64-bit gram HASHES, never text;
    bench side is distinct-deduped per doc before the join; the
    rollup is combinable count/min/max keyed by the pair. Nothing
    quadratic: candidate pairs exist only where a hash matches.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", "source", tokens("text").alias("toks")
    )
    n = F.size("toks")
    gram_structs = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (C75_K - 1), F.lit(0))),
        lambda i: F.struct(
            i.alias("pos"),
            md5_64(
                F.concat_ws(
                    " ",
                    *[F.element_at(F.col("toks"), i + j) for j in range(C75_K)],
                )
            ).alias("h"),
        ),
    )
    train = (
        toked.filter(F.col("source") != BENCH_SOURCE)
        .select("doc_id", F.explode(gram_structs).alias("s"))
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    )
    bench = (
        toked.filter(F.col("source") == BENCH_SOURCE)
        .select(
            F.col("doc_id").alias("bench_doc"),
            F.explode(
                F.array_distinct(
                    F.transform(gram_structs, lambda s: s["h"])
                )
            ).alias("h"),
        )
    )
    return (
        train.join(bench, "h")
        .groupBy(F.col("doc_id").alias("train_doc"), "bench_doc")
        .agg(
            F.count("*").alias("n_shared_grams"),
            F.min("pos").alias("span_start"),
            (F.max("pos") + (C75_K - 1)).alias("span_end"),
        )
        .filter(F.col("n_shared_grams") >= C75_MIN_SHARED)
        .orderBy("train_doc", "bench_doc")
    )


# ---------------------------------------------------------------------------
# C77 — MinHash estimator calibration (estimated vs exact Jaccard)
# ---------------------------------------------------------------------------
#
# c02's production path uses xxhash64 signatures (JVM intrinsic — fast,
# deliberately NOT portable because signatures never leave the plan).
# This calibration op re-derives signatures with the portable md5-based
# hash family so the ORACLE can mirror them bit-for-bit, then reports
# per-pair estimate error against exact Jaccard — the measurement that
# justifies c02's (n_hashes, bands) choice and the number a pipeline
# owner re-checks before trusting MinHash on a new corpus shape.

C77_HASHES = 16
C77_MIN_J = 0.3  # calibrate across a spread, not just the ≥0.8 keepers


def _c77_sig_cols() -> str:
    cols = []
    for i in range(C77_HASHES):
        h = sql_md5_64(f"concat({i}, '|', shingle)")
        cols.append(f"MIN({h}) AS h{i}")
    return ",\n             ".join(cols)


@query(
    "c77_minhash_estimate_error",
    f"""
    WITH sh AS ({SQL_SHINGLES}),
    n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    ),
    pairs AS (
      SELECT doc_a, doc_b, c, na.n AS na, nb.n AS nb
      FROM common
      JOIN n na ON na.doc_id = doc_a
      JOIN n nb ON nb.doc_id = doc_b
      WHERE c * 1.0 / (na.n + nb.n - c) >= {C77_MIN_J}
    ),
    sigs AS (
      SELECT doc_id,
             {_c77_sig_cols()}
      FROM sh GROUP BY doc_id
    )
    SELECT p.doc_a, p.doc_b,
           CAST({' + '.join(f'(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)' for i in range(C77_HASHES))}
                AS BIGINT) AS n_matches,
           CAST(({' + '.join(f'(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)' for i in range(C77_HASHES))})
                * 1000000 // {C77_HASHES} AS BIGINT) AS est_ppm,
           CAST(p.c * 1000000 // (p.na + p.nb - p.c) AS BIGINT) AS exact_ppm,
           CAST(abs(({' + '.join(f'(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)' for i in range(C77_HASHES))})
                    * 1000000 // {C77_HASHES}
                    - p.c * 1000000 // (p.na + p.nb - p.c)) AS BIGINT) AS err_ppm
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.doc_a
    JOIN sigs sb ON sb.doc_id = p.doc_b
    ORDER BY p.doc_a, p.doc_b
    """,
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C77: MinHash estimator calibration — for every pair with exact
    Jaccard ≥ 0.3, the 16-hash MinHash estimate (portable md5 hash
    family, oracle-mirrored bit-for-bit), the exact value, and the
    absolute error, all in integer ppm. The eval row behind c02's
    parameter choice: E[err] ~ sqrt(J(1-J)/k) ≈ 10-12% at k=16, and a
    corpus whose observed errors blow past that band has a shingle
    distribution MinHash assumptions don't fit.

    Scale shape: signatures derive narrowly per doc (transform +
    array_min over the shingle array — no explode, no shuffle); the
    exact side is the same shingle equi-join c02's verifier uses,
    restricted to candidate pairs; the signature join touches pairs
    only. An eval op: runs on a sampled corpus at 100 TB, like
    c42/c43.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = _shingle_arrays(docs).cache()
    # NB: the seed must be bound via a 1-arg closure factory — a
    # `lambda s, _i=i` would declare TWO parameters and PySpark's
    # transform() would pass the ELEMENT INDEX as the second argument,
    # silently overriding the seed (every column becomes seed 0).
    def _seeded(i: int):
        return lambda s: md5_64(F.concat_ws("|", F.lit(i), s))

    sig = base.select(
        "doc_id",
        *[
            F.array_min(F.transform("sharr", _seeded(i))).alias(f"h{i}")
            for i in range(C77_HASHES)
        ],
    )
    sh = base.select("doc_id", F.explode("sharr").alias("shingle"))
    counts = base.select("doc_id", F.size("sharr").alias("n"))
    common = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("c"))
    )
    pairs = (
        common.join(counts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(counts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .filter(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")) >= C77_MIN_J)
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(C77_HASHES)])
    sb = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(C77_HASHES)])
    matches = None
    for i in range(C77_HASHES):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    est_ppm = F.expr(f"CAST(nm * 1000000 div {C77_HASHES} AS BIGINT)")
    exact_ppm = F.expr("CAST(c * 1000000 div (na + nb - c) AS BIGINT)")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("nm", matches)
        .select(
            "doc_a",
            "doc_b",
            F.col("nm").cast("long").alias("n_matches"),
            est_ppm.alias("est_ppm"),
            exact_ppm.alias("exact_ppm"),
            F.abs(est_ppm - exact_ppm).alias("err_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "c78_soft_dedup_weights",
    f"""
    WITH base AS ({SQL_COMPONENTS})
    SELECT doc_id, component_id, group_size,
           CAST(1000000 // group_size AS BIGINT) AS weight_ppm
    FROM base
    ORDER BY doc_id
    """,
)
def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C78: soft deduplication — instead of DROPPING near-duplicates
    (c02's keep-list), every document survives with a sampling weight
    of 1/cluster_size (integer ppm), so a duplicate cluster
    contributes one document's worth of probability mass to training.
    The SoftDeDup/down-weighting alternative pipelines use when hard
    removal loses rare-domain coverage; downstream samplers consume
    weight_ppm directly (c58's weighted sampler is the companion).

    Exactness: weight = 1000000 div group_size — floor division on
    positive integers, identical in both engines.

    Scale shape: identical to c02_dedup_components (LSH pairs → CC →
    group-size rollup) plus one narrow integer column; no new
    shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    comp = min_label_components(
        docs.select(F.col("doc_id").alias("id")), pairs
    ).select(F.col("id").alias("doc_id"), "component_id")
    sized = comp.groupBy("component_id").agg(F.count("*").alias("group_size"))
    return (
        comp.join(sized, "component_id")
        .select(
            "doc_id",
            "component_id",
            "group_size",
            F.expr("CAST(1000000 div group_size AS BIGINT)").alias("weight_ppm"),
        )
        .orderBy("doc_id")
    )


@query(
    "c81_leakage_free_split",
    f"""
    WITH base AS ({SQL_COMPONENTS}),
    labeled AS (
      SELECT doc_id, component_id, group_size,
             CASE WHEN {sql_md5_64("CAST(component_id AS VARCHAR)")} % 100 < 90
                  THEN 'train' ELSE 'test' END AS split
      FROM base
    )
    SELECT split,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT component_id) AS BIGINT) AS n_clusters,
           CAST(SUM(CASE WHEN group_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_members,
           CAST(0 AS BIGINT) AS n_leaked_pairs
    FROM labeled
    GROUP BY split
    ORDER BY split
    """,
)
def leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C81: leakage-free train/test split — c06's deterministic hash
    split, keyed by the near-dup COMPONENT id instead of the doc id,
    so a duplicate cluster can never straddle the split (the classic
    eval-contamination bug: a test doc whose near-twin sits in train).
    n_leaked_pairs is computed from the actual near-dup pair list
    (count of pairs whose endpoints land in different splits) and must
    be ZERO by construction — the column exists so the invariant is
    part of the checked output, not a comment.

    Scale shape: components as in c02 (banded LSH, min-label rounds);
    the split label is a narrow hash on the cluster id; the leak check
    joins the pair list to the label relation twice on doc keys (the
    pair list is the small verified-duplicates relation, not the
    corpus).
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    comp = min_label_components(
        docs.select(F.col("doc_id").alias("id")), pairs
    ).select(F.col("id").alias("doc_id"), "component_id")
    sized = comp.groupBy("component_id").agg(F.count("*").alias("group_size"))
    labeled = comp.join(sized, "component_id").select(
        "doc_id",
        "component_id",
        "group_size",
        F.when(
            md5_64(F.col("component_id").cast("string")) % 100 < 90, "train"
        )
        .otherwise("test")
        .alias("split"),
    )
    # leak check: pairs whose endpoints carry different split labels
    la = labeled.select(F.col("doc_id").alias("a"), F.col("split").alias("sa"))
    lb = labeled.select(F.col("doc_id").alias("b"), F.col("split").alias("sb"))
    n_leaked = (
        pairs.join(la, "a").join(lb, "b").filter(F.col("sa") != F.col("sb")).count()
    )
    if n_leaked != 0:  # invariant by construction; fail loudly if broken
        raise RuntimeError(f"leakage-free split leaked {n_leaked} pairs")
    return (
        labeled.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("component_id").alias("n_clusters"),
            F.sum(F.when(F.col("group_size") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_members"),
            F.lit(n_leaked).cast("long").alias("n_leaked_pairs"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# C83 — sliding-gram substring dedup (round 6)
# ---------------------------------------------------------------------------
#
# The distributed form of exact-substring training-data dedup
# (suffix-array dedup a la "Deduplicating Training Data Makes
# Language Models Better", Lee et al. 2022): a document is a
# substring-duplicate if ANY sliding W-token window of it also occurs
# in an earlier document (doc_id order = ingestion order). W-token
# sliding windows approximate the suffix-array's arbitrary-offset
# match at 1/W the index size; unlike c12's fixed non-overlapping
# chunks, a shared span is caught at EVERY alignment.
#
# Gram identity is computed WITHOUT materializing gram strings: one
# md5 per TOKEN (reduced to 26 bits), then each window combines its 8
# token hashes with an exact polynomial fold mod 2^52 — pure integer
# arithmetic, identical in Spark and DuckDB. Building the 8-token
# gram STRINGS and hashing those measured 2.3x slower at sf0.1 (the
# k-1 zip_with passes copy O(k^2) chars per position); the polynomial
# fold is one narrow pass. Collision space 2^52 on ~0.5M grams at
# sf0.1 is vacuum-level; at a 10^12-gram corpus the same analysis as
# the 60-bit md5 family applies (raise the modulus together with it).

SUBSTR_W = 8
_C83_TMOD = 1 << 26  # per-token hash width
_C83_GMOD = 1 << 52  # gram hash space (fold stays under 2^63)


def _sql_c83() -> str:
    # identical fold, spelled in DuckDB: th[i+j] out of range is NULL
    # -> COALESCE 0, the padding that gives short docs (< W tokens)
    # one whole-text gram (same rule as the shingle helpers).
    h = f"COALESCE(th[i], 0)"
    for j in range(1, SUBSTR_W):
        h = f"(({h}) * 67 + COALESCE(th[i+{j}], 0)) % {_C83_GMOD}"
    return f"""
    WITH t AS (
      SELECT doc_id,
             list_transform({sql_tokens('text')},
                            tok -> {sql_md5_64('tok')} % {_C83_TMOD}) AS th
      FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(th) - {SUBSTR_W - 1}, 1)),
               i -> {h}))) AS gh
      FROM t),
    own AS (SELECT gh, MIN(doc_id) AS owner FROM g GROUP BY gh)
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           MIN(own.owner) FILTER (own.owner < g.doc_id) AS dup_of,
           (MIN(own.owner) FILTER (own.owner < g.doc_id) IS NOT NULL)
             AS is_dup
    FROM g JOIN own USING (gh)
    GROUP BY g.doc_id
    ORDER BY g.doc_id
    """


@query("c83_substring_gram_dedup", _sql_c83())
def substring_gram_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C83: sliding W-token-gram substring dedup — flag every document
    that shares ANY 8-token window with an earlier document, and name
    the earliest such owner. Short documents (< W tokens) contribute
    one zero-padded whole-text gram, so short exact duplicates are
    still caught.

    Scale shape: per-doc token hashes and the polynomial window fold
    are narrow (no gram strings ever exist); per-doc DISTINCT gram
    hashes, one explode, one exchange on the 52-bit gram hash for the
    min-owner rollup (combinable), then the ownership join reuses the
    same hash partitioning and the per-doc verdict is a combinable
    min/count rollup. Shuffles carry (doc_id, hash) pairs — the text
    itself never moves. No all-pairs anywhere: a gram shared by k
    documents costs k rows, not k^2.
    """
    docs = load_table(spark, sf_dir, "documents").repartition("doc_id")
    th = F.transform(tokens("text"), lambda t: md5_64(t) % _C83_TMOD)
    return _substring_verdict(docs.select("doc_id", th.alias("th")))


def _substring_verdict(tdf: DataFrame) -> DataFrame:
    """Shared gram-fold + min-owner rollup (c83 and the c99 unified
    pipeline): ``tdf`` is (doc_id, th: array<bigint> per-token hashes);
    returns (doc_id, n_grams, dup_of, is_dup), ordered."""

    def _gram(i: F.Column) -> F.Column:
        h = F.coalesce(F.element_at(F.col("th"), i), F.lit(0))
        for j in range(1, SUBSTR_W):
            nxt = F.coalesce(
                F.element_at(F.col("th"), i + F.lit(j)), F.lit(0)
            )
            h = (h * 67 + nxt) % _C83_GMOD
        return h

    idx = F.sequence(
        F.lit(1), F.greatest(F.size(F.col("th")) - (SUBSTR_W - 1), F.lit(1))
    )
    g = tdf.select(
        "doc_id",
        F.explode(F.array_distinct(F.transform(idx, _gram))).alias("gh"),
    )
    own = g.groupBy("gh").agg(F.min("doc_id").alias("owner"))
    earlier = F.when(F.col("owner") < F.col("doc_id"), F.col("owner"))
    return (
        g.join(own, "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.min(earlier).alias("dup_of"),
        )
        .select(
            "doc_id",
            "n_grams",
            "dup_of",
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# C92 — dedup-method agreement matrix (round 6, third wave)
# ---------------------------------------------------------------------------
#
# The QA table a pipeline owner reads before choosing a dedup stack:
# per document, does (a) whole-document exact dedup, (b) c12
# chunk-level dedup, (c) c83 sliding-gram substring dedup flag it —
# and how do the three methods overlap? Composes the REGISTERED c12
# and c83 relations (same DataFrames, same oracles — the b119
# composition discipline), so this row can never drift from the
# operators it audits.


def _sql_c92() -> str:
    from spark_dynamodb_spark.registry import REGISTRY

    c12 = REGISTRY.resolve("c12_chunk_dedup").oracle
    c83 = REGISTRY.resolve("c83_substring_gram_dedup").oracle
    return f"""
    WITH chunk AS ({c12}),
    substr AS ({c83}),
    exact AS (
      SELECT doc_id,
             min(doc_id) OVER (
               PARTITION BY md5({sql_normalize_text('text')})) < doc_id
               AS exact_dup
      FROM documents)
    SELECT e.exact_dup,
           (c.n_kept < c.n_chunks) AS chunk_dup,
           s.is_dup AS substr_dup,
           COUNT(*) AS n_docs
    FROM exact e
    JOIN chunk c USING (doc_id)
    JOIN substr s USING (doc_id)
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """


@query("c92_dedup_method_agreement", _sql_c92())
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C92: agreement matrix of three dedup methods — whole-document
    exact (first-owner rule), chunk-level (c12: any 10-token chunk
    seen before, including intra-document repeats), and sliding-gram
    substring (c83: any 8-token window owned by an earlier doc).
    Emits the 8-cell (exact, chunk, substr) contingency table; the
    "substr without exact" cells are precisely what substring dedup
    buys over hashing whole documents.

    Scale shape: reuses the c12 and c83 plans verbatim (their scale
    notes apply); the exact flag is one combinable min-owner window
    keyed by content hash; the three per-doc relations join
    co-partitioned on doc_id, and the output rollup is 8 rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    wexact = Window.partitionBy(F.md5(normalize_text("text")))
    exact = docs.select(
        "doc_id",
        (F.min("doc_id").over(wexact) < F.col("doc_id")).alias("exact_dup"),
    )
    chunk = chunk_dedup(spark, sf_dir).select(
        "doc_id", (F.col("n_kept") < F.col("n_chunks")).alias("chunk_dup")
    )
    substr = substring_gram_dedup(spark, sf_dir).select(
        "doc_id", F.col("is_dup").alias("substr_dup")
    )
    return (
        exact.join(chunk, "doc_id")
        .join(substr, "doc_id")
        .groupBy("exact_dup", "chunk_dup", "substr_dup")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("exact_dup", "chunk_dup", "substr_dup")
    )


# ---------------------------------------------------------------------------
# C99 — unified dedup pipeline: ONE corpus scan feeds every method
# ---------------------------------------------------------------------------
#
# c92 audits three dedup methods by composing their registered
# relations — correct, but each branch re-scans documents.parquet. At
# 100 TB the raw-text scan IS the dominant cost, so the real pipeline
# runs the other way around: ONE pass over the text extracts every
# per-doc signature (content hash, hashed shingle set, token hashes)
# into a narrow columnar side table, and every dedup method then runs
# off signatures alone — the text is never read (or shuffled) again.
# Re-running a method, adding a method, or re-tuning a threshold costs
# a signature-table scan, not a corpus scan. Each verdict branch also
# column-prunes the signature table to exactly its one array.


def _c99_sig_path(sf_dir: str) -> str:
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(f"c99:{sf_dir}".encode()).hexdigest()[:10]
    return os.path.join(tempfile.gettempdir(), f"c99_sigs_{tag}")


def unified_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE pass over raw text: (doc_id, content_md5, sh, th).

    - content_md5: exact-dedup key (c01 rule);
    - sh: per-doc-DISTINCT shingles, stored as xxhash64 LONGS — the
      MinHash path (c02 rule) needs only hashes, and Jaccard over a
      collision-free hashed set equals Jaccard over the strings;
    - th: per-token md5 hashes mod 2^26 (c83 rule) for the sliding
      gram fold.

    All three are narrow array transforms in one projection — the
    physical plan has exactly ONE documents scan (plan-gated). The
    signature row is hashes only: no text ever leaves this scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(normalize_text("text")).alias("content_md5"),
        F.transform(
            F.array_distinct(shingles("text", SHINGLE_K)),
            lambda s: F.xxhash64(s),
        ).alias("sh"),
        F.transform(tokens("text"), lambda t: md5_64(t) % _C83_TMOD).alias("th"),
    )


def _sql_c99() -> str:
    return f"""
    WITH pairs AS ({SQL_EXACT_JACCARD_PAIRS}),
    near AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
    substr AS ({_sql_c83()}),
    exact AS (
      SELECT doc_id,
             min(doc_id) OVER (
               PARTITION BY md5({sql_normalize_text('text')})) < doc_id
               AS exact_dup
      FROM documents)
    SELECT e.doc_id, e.exact_dup,
           (n.doc_id IS NOT NULL) AS near_dup,
           s.is_dup AS substr_dup,
           CAST(CAST(e.exact_dup AS INT) + CAST((n.doc_id IS NOT NULL) AS INT)
                + CAST(s.is_dup AS INT) AS INT) AS n_methods
    FROM exact e
    LEFT JOIN near n USING (doc_id)
    JOIN substr s USING (doc_id)
    ORDER BY e.doc_id
    """


@query("c99_unified_dedup_pipeline", _sql_c99())
def unified_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C99 (VERDICT r6/r7 advice): per-document verdict of THREE dedup
    methods — exact (c01 rule), MinHash-LSH near-dup (c02 rule, exact
    Jaccard >= 0.8 verified), sliding-gram substring (c83 rule) — with
    the raw corpus scanned exactly ONCE.

    Stage 1 (`unified_signatures`) extracts every per-doc signature in
    one projection and stages it as a narrow parquet side table.
    Stage 2 computes the three verdicts purely from signatures: exact
    is a min-owner window on content_md5, near-dup runs the shared
    `_minhash_verified_pairs` over the pre-hashed shingle arrays, and
    substring runs the shared `_substring_verdict` over the token
    hashes; each branch column-prunes the signature table to its one
    array. Plan gates: the staging plan has exactly one documents
    scan; the verdict plan has ZERO (and no text/string-shingle column
    exists in the staged schema).

    Oracle recomposes the registered c01/c02/c83 semantics as CTEs, so
    this row cannot drift from the methods it unifies. Near-dup uses
    the exact-Jaccard pair oracle — valid for the same recall reason
    as c02 (16x3 banding at fixture dup levels misses nothing above
    0.8).
    """
    path = _c99_sig_path(sf_dir)
    unified_signatures(spark, sf_dir).write.mode("overwrite").parquet(path)
    sigs = spark.read.parquet(path)

    wexact = Window.partitionBy("content_md5")
    exact = sigs.select(
        "doc_id",
        (F.min("doc_id").over(wexact) < F.col("doc_id")).alias("exact_dup"),
    )
    pairs = _minhash_verified_pairs(sigs.select("doc_id", "sh"), "sh")
    near = pairs.select(F.col("doc_b").alias("doc_id")).distinct().withColumn(
        "near_hit", F.lit(True)
    )
    substr = _substring_verdict(sigs.select("doc_id", "th")).select(
        "doc_id", F.col("is_dup").alias("substr_dup")
    )
    return (
        exact.join(near, "doc_id", "left")
        .join(substr, "doc_id")
        .select(
            "doc_id",
            "exact_dup",
            F.coalesce(F.col("near_hit"), F.lit(False)).alias("near_dup"),
            "substr_dup",
            (
                F.col("exact_dup").cast("int")
                + F.coalesce(F.col("near_hit"), F.lit(False)).cast("int")
                + F.col("substr_dup").cast("int")
            ).cast("int").alias("n_methods"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# C101 — blocked fuzzy dedup: edit-distance verify inside length bands
# ---------------------------------------------------------------------------

_ED_PFX = 256        # verify window (chars of normalized text)
_ED_BAND = 64        # length-band width (chars)
_ED_MAXDIST = 64     # levenshtein early-exit threshold
_ED_SIM_T = 0.75     # keep pairs with prefix similarity >= this


def _ed_d_sql() -> str:
    """The d CTE: per-doc edit-distance signature off one documents
    scan — bounded normalized prefix + TWO independent min-token-hash
    permutations (mh2 hashes token || chr(1); md5 of the shifted input
    is an independent uniform draw, the standard multi-permutation
    MinHash construction). Shared by the c101 and c110 oracles."""
    return f"""d AS (SELECT doc_id, lang, n_chars,
                      substr({sql_normalize_text('text')}, 1, {_ED_PFX}) AS pfx,
                      list_min(list_transform({sql_tokens('text')},
                        t -> {sql_md5_64('t')})) AS mh1,
                      list_min(list_transform({sql_tokens('text')},
                        t -> {sql_md5_64('t || chr(1)')})) AS mh2
               FROM documents)"""


def _ed_pair_ctes(src: str) -> str:
    """blk → pblk → cand → ver → kept over a d-shaped relation
    ``src`` (doc_id, lang, n_chars, pfx, mh1, mh2): the two-permutation
    blocked candidate join plus the bounded levenshtein verify —
    the oracle mirror of :func:`_ed_verified_pairs`, shared by c101
    (src = raw docs) and c110 (src = distinct signature reps)."""
    return f"""blk AS (SELECT doc_id, lang, n_chars, pfx, mh1, mh2,
                   unnest([CAST(floor(n_chars / {_ED_BAND}) AS BIGINT),
                           CAST(floor(n_chars / {_ED_BAND}) AS BIGINT) + 1]) AS bkt
            FROM {src}),
    pblk AS (SELECT doc_id, lang, n_chars, pfx, bkt, 1 AS p, mh1 AS ph FROM blk
             UNION ALL
             SELECT doc_id, lang, n_chars, pfx, bkt, 2 AS p, mh2 AS ph FROM blk),
    cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                    x.pfx AS pa, y.pfx AS pb
             FROM pblk x JOIN pblk y
               ON x.lang = y.lang AND x.bkt = y.bkt
              AND x.p = y.p AND x.ph = y.ph
              AND x.doc_id < y.doc_id
              AND abs(x.n_chars - y.n_chars) <= {_ED_BAND}),
    ver AS (SELECT doc_a, doc_b,
                   CAST(CASE WHEN pa = pb THEN 0
                             ELSE levenshtein(pa, pb) END AS BIGINT) AS edit_dist,
                   round(CASE WHEN greatest(length(pa), length(pb)) = 0 THEN 1.0
                              ELSE 1.0 - (CASE WHEN pa = pb THEN 0
                                               ELSE levenshtein(pa, pb) END) * 1.0
                                       / greatest(length(pa), length(pb)) END,
                         6) AS pfx_sim
            FROM cand),
    kept AS (SELECT doc_a, doc_b, edit_dist, pfx_sim
             FROM ver
             WHERE edit_dist <= {_ED_MAXDIST} AND pfx_sim >= {_ED_SIM_T})"""


def _edit_distance_sql() -> str:
    return f"""
    WITH {_ed_d_sql()},
    {_ed_pair_ctes('d')}
    SELECT doc_a, doc_b, edit_dist, pfx_sim
    FROM kept
    ORDER BY doc_a, doc_b
    """


def _ed_prepared(docs: DataFrame) -> DataFrame:
    """One narrow pass over raw text: the per-doc edit-distance
    signature (doc_id, lang, n_chars, pfx, mh1, mh2).

    TWO independent min-token-hash permutations (round-10, closing the
    recall gap the round-9 docstring documented): an edit that deletes
    THE minimum-hash token changes mh1 and breaks that block, but the
    permutation-2 minimum is almost surely a DIFFERENT token (each
    token's rank under md5(t || chr(1)) is an independent uniform
    draw), so the pair still collides on mh2 — the standard OR-of-
    permutations band/row trade, same construction as c02's LSH.
    Property-tested in tests/test_scale_patterns.py (delete-the-min
    miss class).

    repartition first: the fixture parquet is one row group = one
    task, and the per-token md5 for the block keys would serialize
    (the _shingle_arrays idiom; verify-skill gotcha)."""
    # min-by-hex-string, convert ONCE per doc (round 16, guide §1.2):
    # md5() is fixed-length lowercase hex, so lexicographic array_min
    # over the hex strings picks the same element as numeric min over
    # md5_64's 60-bit prefix (0-9a-f is numeric order; a shared
    # 15-char prefix is a tie with an identical mh value either way).
    # The conv(hex, 16, 10) string parse — formerly run per TOKEN, the
    # dominant cost of this entry's 4.4 s staging job — now runs once
    # per (doc, permutation). Values are identical, so the md5-based
    # oracle mirror (sql_md5_64 per token) is untouched.
    def _min_md5_64(arr: Column) -> Column:
        return F.conv(F.substring(F.array_min(arr), 1, 15), 16, 10).cast("long")

    return docs.repartition("doc_id").select(
        "doc_id",
        "lang",
        "n_chars",
        F.substring(normalize_text("text"), 1, _ED_PFX).alias("pfx"),
        _min_md5_64(F.transform(tokens("text"), lambda t: F.md5(t))).alias("mh1"),
        _min_md5_64(
            F.transform(tokens("text"), lambda t: F.md5(F.concat(t, F.lit("\x01"))))
        ).alias("mh2"),
    )


def _ed_candidate_pairs(prep: DataFrame) -> DataFrame:
    """Blocked candidate generation over a prepared signature frame:
    (doc_a, doc_b, pa, pb) with a numbered (doc_a, doc_b) repartition
    as the TOPMOST exchange, so the verify stage built on top runs at
    exactly shuffle-partition width. Factored from _ed_verified_pairs
    so the plan gates can inspect this pre-barrier plan (the lazy
    localCheckpoint above hides it behind a Scan ExistingRDD)."""
    spark = prep.sparkSession
    blk = prep.withColumn(
        "bkt",
        F.explode(
            F.array(
                F.floor(F.col("n_chars") / _ED_BAND),
                F.floor(F.col("n_chars") / _ED_BAND) + 1,
            )
        ),
    )
    # OR of the two permutation keys as a UNION of equi-joins: each doc
    # posts (perm, hash) rows and candidates join on (lang, bkt, perm,
    # hash) — an OR in the join condition would break the equi-join
    # (hash-partitionable keys are the whole point of blocking).
    keep = ["doc_id", "lang", "n_chars", "pfx", "bkt"]
    pblk = blk.select(
        *keep, F.lit(1).alias("p"), F.col("mh1").alias("ph")
    ).unionByName(blk.select(*keep, F.lit(2).alias("p"), F.col("mh2").alias("ph")))
    x, y = pblk.alias("x"), pblk.alias("y")
    # Candidates are deduped as ID PAIRS ONLY, then re-joined to fetch
    # the two prefixes, and only then verified. This shape is
    # load-bearing twice over (round-9 lesson, measured at sf0.1 with
    # 523k candidate pairs):
    #  1. If pa/pb ride the block join directly, Catalyst pushes the
    #     levenshtein FILTER down into the block-join CONDITION — a
    #     CPU-heavy predicate evaluated inside the broadcast-probe
    #     stage, whose parallelism is the raw scan's (one row group =
    #     ONE task locally): 230 s single-task, levenshtein computed
    #     2-3x per pair. Verifying above the prefix joins (and, since
    #     round 12, above a numbered repartition that sits DIRECTLY
    #     under it) caps the pushdown at a stage that is explicitly
    #     re-partitioned wide.
    #  2. The distinct shuffle carries 16 bytes/pair, not 2x256 chars
    #     (and with two permutations it also folds the double-collision
    #     case — pairs matching on BOTH mh1 and mh2 — to one row).
    cand_ids = (
        x.join(
            y,
            (F.col("x.lang") == F.col("y.lang"))
            & (F.col("x.bkt") == F.col("y.bkt"))
            & (F.col("x.p") == F.col("y.p"))
            & (F.col("x.ph") == F.col("y.ph"))
            & (F.col("x.doc_id") < F.col("y.doc_id"))
            & (
                F.abs(F.col("x.n_chars") - F.col("y.n_chars")) <= _ED_BAND
            ),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    pfx = prep.select("doc_id", "pfx")
    cand = (
        cand_ids.join(
            pfx.select(F.col("doc_id").alias("doc_a"), F.col("pfx").alias("pa")),
            "doc_a",
        )
        .join(
            pfx.select(F.col("doc_id").alias("doc_b"), F.col("pfx").alias("pb")),
            "doc_b",
        )
        # numbered repartition (never AQE-coalesced) DIRECTLY under the
        # verify — round-12 finding: when this sat below the pfx joins,
        # each join inserted its own ENSURE_REQUIREMENTS exchange above
        # it and AQE coalesced THOSE, so the CPU-bound verify ran
        # 8-wide despite the numbered exchange (measured at sf0.1:
        # verify stage 8-wide ~8 s, 32-wide ~4.4 s). Keys are REVERSED
        # (doc_b, doc_a) deliberately: the distinct above already
        # hash-partitions (doc_a, doc_b, N), and a same-key numbered
        # repartition is elided as satisfied-by-child at planning —
        # leaving only the AQE-coalescible ENSURE_REQUIREMENTS
        # exchange. Hash partitioning is argument-order-sensitive, so
        # the reversed spelling survives as a real REPARTITION_BY_NUM
        # (plan-gated). The shuffle carries the two 256-char prefixes
        # (~0.5 KB/pair) instead of 16 B/pair — measured cheaper than
        # the parallelism it buys. Width follows the session's
        # shuffle-partition config, so a cluster gets cluster-width
        # verify parallelism.
        .repartition(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            "doc_b",
            "doc_a",
        )
        .select("doc_a", "doc_b", "pa", "pb")
    )
    return cand


def _ed_verified_pairs(prep: DataFrame) -> DataFrame:
    """Blocked candidate generation + bounded levenshtein verify over a
    prepared signature frame — the machinery shared by c101 (pair
    list over raw docs) and c110 (verdicts over distinct-signature
    representatives). Returns (doc_a, doc_b, edit_dist, pfx_sim).

    The candidate frame crosses a lazy localCheckpoint = an optimizer
    BARRIER, load-bearing twice (round-12 plan audit, measured: c110
    14.5 s -> 8.2 s at sf0.1): (1) without it Catalyst pushes the
    kept-pair filters through the repartition INTO the pfx
    broadcast-join condition, evaluating levenshtein 2-3x per pair
    inside a stage whose width AQE already coalesced to 8; (2) the RDD
    scan boundary pins the verify stage at exactly the numbered width
    of _ed_candidate_pairs' topmost exchange. The checkpointed RDD is
    released by maintenance.release_cached (the r10/r11
    unpersist-audit class)."""
    cand = _ed_candidate_pairs(prep).localCheckpoint(eager=False)
    # verify kernel: JVM thresholded levenshtein, kept after a measured
    # round-12 bake-off against VERDICT r11 #2's prescribed Myers
    # bit-parallel mapInPandas kernel (implemented, property-tested,
    # then benchmarked on checkpointed identical input at equal 32-wide
    # parallelism: SQL DP 4.4-5.0 s vs Myers-in-Python 6.0-8.9 s for
    # the same 662k pairs at sf0.1). Two reasons the prescription
    # loses here: (1) 99.3% of blocked candidates are FAR pairs, where
    # Spark's banded DP aborts on the threshold just as fast as Myers'
    # bigint loop, and (2) this corpus's 31-word shared vocabulary
    # defeats prefix/suffix trimming (far pairs still share most
    # content). The r11 profile's "0.9 ms per differing pair" blamed
    # the kernel; the real cost was the verify running 8-wide (see the
    # repartition note above). Equality short-circuit: MOST verified
    # pairs in a replica-heavy corpus are bit-identical and skip the
    # DP via a string-equality check that is ~2 orders cheaper.
    lev = F.when(F.col("pa") == F.col("pb"), F.lit(0)).otherwise(
        F.levenshtein("pa", "pb", _ED_MAXDIST)
    )
    ver = cand.select(
        "doc_a",
        "doc_b",
        lev.cast("long").alias("edit_dist"),
        F.greatest(F.length("pa"), F.length("pb")).alias("mx"),
    )
    return (
        ver.filter(F.col("edit_dist") >= 0)
        .select(
            "doc_a",
            "doc_b",
            "edit_dist",
            # mx = 0 (two whitespace-only docs -> empty normalized
            # prefixes) would be null here but NaN (0/0) in the DuckDB
            # oracle, where NaN >= threshold is TRUE — guard both sides
            # identically: empty-prefix pairs are exact matches, sim 1.0
            # (ADVICE r9).
            F.round(
                F.when(F.col("mx") == 0, F.lit(1.0)).otherwise(
                    F.lit(1.0) - F.col("edit_dist") / F.col("mx")
                ),
                6,
            ).alias("pfx_sim"),
        )
        .filter(F.col("pfx_sim") >= _ED_SIM_T)
    )


@query(
    "c101_dedup_edit_distance",
    _edit_distance_sql(),
    doc="""Oracle replicates the same length-band + two-permutation
    blocking, so the candidate sets are identical by construction;
    levenshtein is the standard DP edit distance in both engines and
    the kept distances are integers — no float-tolerance caveat.""",
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C101: DIAGNOSTIC / SUPERSEDED (parked ``zz_diag_`` per VERDICT
    r12) — the pair-list contract is quadratic in replica-heavy
    corpora (measured 34.16x wall at 10x data). Production
    edit-distance dedup routes through C110's verdict contract
    (rep-collapse before pairwise work, 1.51x at 10x; semantics
    equality-pinned in tests/test_scale_patterns.py). Kept for ad-hoc
    pair inspection; dropped from bench extras.

    Original contract: fuzzy near-dup pairs by edit distance — the verify family
    member that catches small in-place edits (typo fixes, template
    variable swaps) that token-shingle Jaccard (c02) under-weights.

    Blocking, never all-pairs — the block key is THREE-part
    (lang, length-band, min-token-hash), a lesson the round-9 10x
    stress taught: length bands alone are low-entropy (every
    same-length unrelated doc collides), so candidates grew
    quadratically with data — ~100x pairs for 10x docs, each paying
    a levenshtein. The third key is MinHash: the minimum md5 token
    hash collides for near-identical docs with probability ~= their
    token Jaccard (>=0.9 for the edit-distance target class) but
    splits unrelated same-length docs ~vocabulary-fold — and since
    round 10 it is TWO independent permutations OR-ed as a union of
    equi-joins, closing the documented miss class where the edit
    deletes the minimum-hash token itself (see _ed_prepared). Each
    doc still lands in its own n_chars/64 band and the next one
    (standard band discretization, b33 trick), so any near-identical
    pair within 64 chars of length shares a block. Verify runs on a
    BOUNDED window (first 256 normalized chars) with Spark's
    thresholded levenshtein(l, r, T) — the DP early-exits any
    candidate past T=64 edits (returns -1, filtered), so per-pair
    cost is O(pfx * T), not O(pfx^2).

    Scale shape (100 TB): candidate generation is an equi-join (one
    shuffle per side on the 4-part posted block key); the verify
    payload per candidate is <= 256 chars — at real scale you would
    ship (id, prefix-hash) first and fetch prefixes only for
    hash-unequal candidates; here prefixes ride the candidate join
    directly.

    DIAGNOSTIC-ONLY (VERDICT r10): the pair LIST contract is itself
    quadratic in a replica-heavy corpus — k replicas of one page emit
    k·(k-1)/2 rows no matter how good the blocking is (measured:
    34.16x wall at just 10x data, PLANS.md round-9 stress). Route
    production dedup through c110_edit_distance_verdict, which
    collapses replica cliques to distinct-signature representatives
    BEFORE pairwise work (1.51x at 10x, 15.6x at 100x) and emits
    per-doc verdicts. Keep c101 for ad-hoc pair inspection at audit
    scale (which pairs matched, and why) — the one question the
    verdict table cannot answer. Output is the verified pair list
    ordered by (doc_a, doc_b).
    """
    prep = _ed_prepared(load_table(spark, sf_dir, "documents"))
    return _ed_verified_pairs(prep).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# C110 — edit-distance VERDICTS: the scale-safe sibling of c101
# ---------------------------------------------------------------------------

_ED_SIG_COLS = ["lang", "n_chars", "pfx", "mh1", "mh2"]




def _edit_distance_verdict_sql() -> str:
    sig_list = ", ".join(_ED_SIG_COLS)
    return f"""
    WITH {_ed_d_sql()},
    sig AS (SELECT {sig_list}, min(doc_id) AS rep_id
            FROM d GROUP BY {sig_list}),
    reps AS (SELECT rep_id AS doc_id, {sig_list} FROM sig),
    {_ed_pair_ctes('reps')},
    ext AS (SELECT rep_id, min(partner) AS ext_min FROM (
              SELECT doc_b AS rep_id, doc_a AS partner FROM kept
              UNION ALL
              SELECT doc_a AS rep_id, doc_b AS partner FROM kept)
            GROUP BY rep_id),
    flr AS (SELECT {', '.join('s.' + c for c in _ED_SIG_COLS)},
                   least(s.rep_id, coalesce(e.ext_min, s.rep_id)) AS g_floor
            FROM sig s LEFT JOIN ext e ON e.rep_id = s.rep_id)
    SELECT m.doc_id,
           m.doc_id > f.g_floor AS is_dup,
           CASE WHEN m.doc_id > f.g_floor THEN f.g_floor
                ELSE m.doc_id END AS canon_id
    FROM d m JOIN flr f
      ON {' AND '.join(f'm.{c} IS NOT DISTINCT FROM f.{c}' for c in _ED_SIG_COLS)}
    ORDER BY m.doc_id
    """


@query(
    "c110_edit_distance_verdict",
    _edit_distance_verdict_sql(),
    doc="""Oracle recomposes the same signature-group floor
    construction over the shared two-permutation pair CTEs; verdicts
    and canon ids are integers/booleans — no float caveat.""",
)
def edit_distance_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C110: per-doc edit-distance KEEP/DROP verdicts — the
    verdict-shaped sibling of c101 that PLANS.md's round-9 stress
    prescribed ("at 100 TB: emit edit-distance VERDICTS if you can —
    the pair list itself is the quadratic cost").

    Semantics: doc is a dup iff SOME smaller-id doc matches it under
    exactly c101's predicate (same lang, |n_chars diff| <= band,
    min-hash block collision on either permutation, bounded-prefix
    levenshtein <= 64, prefix similarity >= 0.75); canon_id is its
    smallest direct match. Emitted per doc: (doc_id, is_dup,
    canon_id).

    Why this is the 100 TB shape — replica cliques collapse BEFORE
    any pairwise work: every c101-relevant property of a doc lives in
    its bounded signature (lang, n_chars, 256-char prefix, mh1, mh2),
    so k replicas of one page form ONE signature group, verdict-able
    by the group-min alone, and the quadratic candidate join runs
    over DISTINCT signatures only (their count grows ~linearly where
    pairs grow ~quadratically: c101's 10x stress saw 97.6x pairs).
    The pair predicate is signature-level, so "exists a smaller
    matching partner" factors exactly: for a member d of group G,
    partners are other members of G (min = rep_id) and members of
    matched groups G' (min = min over matched G' of their rep_id) —
    d is a dup iff d > g_floor = least(rep_id, ext_min), with
    canon_id = g_floor. No approximation is introduced; the verdict
    table equals what c101's pair list would imply, at
    representative-level cost — with ONE documented divergence
    (ADVICE r10): zero-token docs. array_min over an empty token
    array yields NULL mh1/mh2, so c101's equi-join never pairs such
    docs at all, while c110 groups them by null-safe signature
    equality and marks same-signature members of a null-mh group as
    dups of the group floor. For token-less docs c110's "identical
    bounded signature = duplicate" is the more useful contract (they
    ARE byte-identical in every field the signature observes), so the
    divergence is kept deliberately; the oracle mirrors it with
    IS NOT DISTINCT FROM, keeping the hash check exact.

    Plan shape (gated): ONE documents scan total — the signature
    pass stages (doc_id + bounded signature, no raw text) to parquet
    (c99 discipline); the verdict plan reads the staged table only.
    All joins are equi-joins; the verdict re-join keys on the full
    signature tuple.
    """
    from spark_dynamodb_spark.tables import scratch_stage_path

    path = scratch_stage_path(spark, "c110", sf_dir)
    _ed_prepared(load_table(spark, sf_dir, "documents")).write.mode(
        "overwrite"
    ).parquet(path)
    prep = spark.read.parquet(path)
    sig = prep.groupBy(*_ED_SIG_COLS).agg(F.min("doc_id").alias("rep_id"))
    reps = sig.select(F.col("rep_id").alias("doc_id"), *_ED_SIG_COLS)
    # single-evaluation stage: ext reads the pair relation TWICE (once
    # per union side), and the rep-pair candidate+verify is the query's
    # dominant cost — the 100x profile measured 292 s per evaluation, so
    # an unmaterialized union paid it double (739 s vs 272 s). Staged to
    # parquet rather than .cache() (ADVICE r10: caches created inside a
    # query fn are never unpersisted and accumulate executor storage in
    # long-lived sessions; the pair relation is bounded — 221k rows at
    # 100x — so the stage write is cheap and self-overwriting per run).
    pairs_path = scratch_stage_path(spark, "c110_pairs", sf_dir)
    _ed_verified_pairs(reps).write.mode("overwrite").parquet(pairs_path)
    pairs = spark.read.parquet(pairs_path)
    ext = (
        pairs.select(F.col("doc_b").alias("rep_id"), F.col("doc_a").alias("partner"))
        .unionByName(
            pairs.select(
                F.col("doc_a").alias("rep_id"), F.col("doc_b").alias("partner")
            )
        )
        .groupBy("rep_id")
        .agg(F.min("partner").alias("ext_min"))
    )
    flr = sig.join(ext, "rep_id", "left").select(
        *[F.col(c).alias(f"f_{c}") for c in _ED_SIG_COLS],
        F.least(F.col("rep_id"), F.coalesce("ext_min", "rep_id")).alias("g_floor"),
    )
    # NULL-SAFE re-join (code-review r10): a doc with NULL text has a
    # null signature; plain equality would drop its verdict row in BOTH
    # engines (so the hash check could never catch it), violating the
    # one-row-per-doc contract. eqNullSafe / IS NOT DISTINCT FROM keeps
    # null-keyed groups joinable and stays an equi-join.
    cond = None
    for c in _ED_SIG_COLS:
        term = prep[c].eqNullSafe(F.col(f"f_{c}"))
        cond = term if cond is None else (cond & term)
    return (
        prep.join(flr, cond)
        .select(
            "doc_id",
            (F.col("doc_id") > F.col("g_floor")).alias("is_dup"),
            F.when(F.col("doc_id") > F.col("g_floor"), F.col("g_floor"))
            .otherwise(F.col("doc_id"))
            .alias("canon_id"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# C102 — mergeable KMV distinct sketch, rolled up per source
# ---------------------------------------------------------------------------

_KMV_K = 256
_KMV_SHARDS = 8
_KMV_SPACE = float(1 << 60)  # md5_64 hashes are uniform in [0, 2^60)


def _kmv_sql() -> str:
    est = (
        f"CASE WHEN n_in < {_KMV_K} THEN CAST(n_in AS DOUBLE) "
        f"ELSE round(({_KMV_K - 1}.0 * {int(_KMV_SPACE)}.0) / hk, 2) END"
    )
    return f"""
    WITH sh AS ({sql_shingles(key_col='source', distinct_rows=True)}),
    h AS (SELECT DISTINCT source, {sql_md5_64('shingle')} AS h FROM sh),
    ranked AS (SELECT source, h,
                      row_number() OVER (PARTITION BY source ORDER BY h) AS rn
               FROM h),
    sk AS (SELECT source, COUNT(*) AS n_in, max(h) AS hk
           FROM ranked WHERE rn <= {_KMV_K} GROUP BY source),
    ex AS (SELECT source, COUNT(*) AS n_exact FROM h GROUP BY source),
    est AS (SELECT ex.source, ex.n_exact, {est} AS n_est
            FROM ex JOIN sk ON ex.source = sk.source)
    SELECT source, n_exact, n_est,
           round(abs(n_est - n_exact) * 100.0 / n_exact, 4) AS err_pct
    FROM est
    ORDER BY source
    """


def _source_shingle_hashes(docs: DataFrame) -> DataFrame:
    """Distinct (source, md5-60-bit shingle hash) — the portable hash
    relation both KMV entries (c102/c103) sketch and exact-count."""
    return (
        docs.select(
            "source",
            F.explode(F.array_distinct(shingles("text", SHINGLE_K))).alias("shingle"),
        )
        .select("source", md5_64("shingle").alias("h"))
        .distinct()
    )


def _kmv_kept(h: DataFrame) -> DataFrame:
    """The K smallest hashes per source via two BOUNDED top-k phases:
    per-(source, hash%SHARDS) shard window, then a per-source merge
    window over the <= SHARDS*K survivors — the KMV merge algebra
    (union, keep K smallest) made structural; never an unbounded
    per-group collect."""
    shard_w = Window.partitionBy(
        "source", F.pmod(F.col("h"), F.lit(_KMV_SHARDS))
    ).orderBy("h")
    phase1 = (
        h.withColumn("rn", F.row_number().over(shard_w))
        .filter(F.col("rn") <= _KMV_K)
        .drop("rn")
    )
    merge_w = Window.partitionBy("source").orderBy("h")
    return (
        phase1.withColumn("rn", F.row_number().over(merge_w))
        .filter(F.col("rn") <= _KMV_K)
    )


@query(
    "c102_kmv_sketch_rollup",
    _kmv_sql(),
    doc="""Oracle computes the K smallest hashes per source directly
    (one window); Spark computes them in two mergeable phases — the
    results are identical because the K smallest of a union are
    contained in the union of each shard's K smallest. md5-derived
    hashes keep the sketch engine-portable; the estimator arithmetic
    is the same IEEE-double expression on both sides.""",
)
def kmv_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C102: K-minimum-values distinct-shingle sketch per source, with
    the exact count and the sketch's relative error alongside.

    The point is MERGEABILITY — the property every 100 TB profiling
    pass lives on: a KMV sketch (the K smallest hash values of a set)
    merges by "union, keep K smallest", so per-shard sketches combine
    associatively without revisiting data — the same algebra
    partial-aggregation pushdown needs. The implementation
    demonstrates it structurally in two bounded phases:

      phase 1 (map-side shape): per (source, hash%8) shard, keep the
        K smallest hashes — a per-group top-k window, spillable,
        never an unbounded collect;
      phase 2 (merge shape): re-rank the <= 8K survivors per source
        and keep the global K smallest, then estimate
        |distinct| ~ (K-1) * 2^60 / h_(K)  (hashes uniform in
        [0, 2^60)); sources with fewer than K distinct values are
        exact by definition.

    At 100 TB the phase-1 output is 256 longs per (source, shard) —
    kilobytes per source regardless of corpus size — while the exact
    count (computed here only to report err_pct) costs a full
    distinct shuffle. KMV complements HLL (b13): same merge algebra,
    but KMV also supports set-intersection estimates between sketches.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = _source_shingle_hashes(docs)
    sketch = (
        _kmv_kept(h)
        .groupBy("source")
        .agg(F.count("*").alias("n_in"), F.max("h").alias("hk"))
    )
    exact = h.groupBy("source").agg(F.count("*").alias("n_exact"))
    est = F.when(
        F.col("n_in") < _KMV_K, F.col("n_in").cast("double")
    ).otherwise(
        F.round(F.lit((_KMV_K - 1) * 1.0 * _KMV_SPACE) / F.col("hk"), 2)
    )
    return (
        exact.join(sketch, "source")
        .select("source", "n_exact", est.alias("n_est"))
        .select(
            "source",
            "n_exact",
            "n_est",
            F.round(
                F.abs(F.col("n_est") - F.col("n_exact")) * 100.0 / F.col("n_exact"), 4
            ).alias("err_pct"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# C103 — KMV set algebra: pairwise source-overlap estimate from sketches
# ---------------------------------------------------------------------------

def _kmv_overlap_sql() -> str:
    return f"""
    WITH sh AS ({sql_shingles(key_col='source', distinct_rows=True)}),
    h AS (SELECT DISTINCT source, {sql_md5_64('shingle')} AS h FROM sh),
    ranked AS (SELECT source, h,
                      row_number() OVER (PARTITION BY source ORDER BY h) AS rn
               FROM h),
    sk AS (SELECT source, list(h ORDER BY h) AS ska
           FROM ranked WHERE rn <= {_KMV_K} GROUP BY source),
    n AS (SELECT source, COUNT(*) AS n FROM h GROUP BY source),
    inter AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_inter
              FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
              GROUP BY source_a, source_b),
    pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                     a.ska AS sa, b.ska AS sb
              FROM sk a JOIN sk b ON a.source < b.source),
    est AS (SELECT source_a, source_b,
                   len(list_intersect(
                       list_sort(list_distinct(list_concat(sa, sb)))[1:{_KMV_K}],
                       list_intersect(sa, sb))) AS n_common,
                   len(list_sort(list_distinct(list_concat(sa, sb)))[1:{_KMV_K}])
                     AS n_merged
            FROM pairs)
    SELECT est.source_a, est.source_b,
           CAST(n_common * 1000000 // n_merged AS BIGINT) AS jac_est_ppm,
           CAST(coalesce(n_inter, 0) * 1000000
                  // (na.n + nb.n - coalesce(n_inter, 0)) AS BIGINT) AS jac_ppm,
           CAST(abs(n_common * 1000000 // n_merged
                    - coalesce(n_inter, 0) * 1000000
                        // (na.n + nb.n - coalesce(n_inter, 0))) AS BIGINT)
             AS err_ppm
    FROM est
    LEFT JOIN inter ON est.source_a = inter.source_a AND est.source_b = inter.source_b
    JOIN n na ON na.source = est.source_a
    JOIN n nb ON nb.source = est.source_b
    ORDER BY est.source_a, est.source_b
    """


@query(
    "c103_kmv_source_overlap",
    _kmv_overlap_sql(),
    doc="""Oracle builds the same K-smallest sketches directly and
    applies the same KMV set algebra; all emitted columns are
    integers (ppm via integer division) — no float caveat anywhere.""",
)
def kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C103: pairwise source-overlap (Jaccard) ESTIMATED from the c102
    KMV sketches — the set-algebra payoff HLL cannot give: for
    sketches S_A, S_B (each the K smallest hashes), M = the K
    smallest of S_A ∪ S_B is a valid sketch of A ∪ B, and
    |M ∩ S_A ∩ S_B| / |M| is the standard KMV Jaccard estimator
    (Beyer et al., K-minimum-values set operations). The exact
    Jaccard (ppm) and the estimate's error ride alongside.

    Why it matters at 100 TB: pairwise overlap across S sources costs
    ONE corpus scan + S·K longs with sketches — the est path here is
    array algebra over broadcast-sized per-source rows — while the
    exact path (emitted only to report err_ppm) is a full
    distinct-hash self-join, the thing you cannot afford across a
    petabyte corpus. This is c22_source_overlap's question answered
    at sketch cost; pairs with c10/c32 decontamination, where
    cross-source leakage is the decision input.

    All outputs are integer ppm (integer division) — bit-identical in
    any engine, no float rounding discipline needed.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = _source_shingle_hashes(docs)
    sk = (
        _kmv_kept(h)
        .groupBy("source")
        .agg(F.sort_array(F.collect_list("h")).alias("ska"))
    )
    n = h.groupBy("source").agg(F.count("*").alias("n"))
    ha, hb = h.alias("ha"), h.alias("hb")
    inter = (
        ha.join(
            hb,
            (F.col("ha.h") == F.col("hb.h"))
            & (F.col("ha.source") < F.col("hb.source")),
        )
        .groupBy(
            F.col("ha.source").alias("source_a"),
            F.col("hb.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    a, b = sk.alias("a"), sk.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.source") < F.col("b.source")
    ).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        F.col("a.ska").alias("sa"),
        F.col("b.ska").alias("sb"),
    )
    merged = F.slice(F.array_sort(F.array_union("sa", "sb")), 1, _KMV_K)
    est = pairs.select(
        "source_a",
        "source_b",
        F.size(F.array_intersect(merged, F.array_intersect("sa", "sb"))).alias(
            "n_common"
        ),
        F.size(merged).alias("n_merged"),
    )
    na, nb = n.alias("na"), n.alias("nb")
    return (
        est.join(
            inter,
            (est.source_a == inter.source_a) & (est.source_b == inter.source_b),
            "left",
        )
        .drop(inter.source_a)
        .drop(inter.source_b)
        .join(na, est.source_a == F.col("na.source"))
        .join(nb, est.source_b == F.col("nb.source"))
        .select(
            "source_a",
            "source_b",
            F.expr("n_common * 1000000 DIV n_merged").cast("long").alias(
                "jac_est_ppm"
            ),
            F.expr(
                "coalesce(n_inter, 0) * 1000000"
                " DIV (na.n + nb.n - coalesce(n_inter, 0))"
            ).cast("long").alias("jac_ppm"),
            F.expr(
                "abs(n_common * 1000000 DIV n_merged"
                " - coalesce(n_inter, 0) * 1000000"
                "     DIV (na.n + nb.n - coalesce(n_inter, 0)))"
            ).cast("long").alias("err_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# C108 — SimHash hamming search: block-permuted candidates (Manku et al.)
# ---------------------------------------------------------------------------

_SH_CHUNKS = 4            # 60 bits -> 4 x 15-bit chunks
_SH_CHUNK_BITS = 15
_SH_HAM_T = 3             # pigeonhole: <= 3 flipped bits leave >= 1 chunk intact
_SH_BUCKET_CAP = 512      # skew guard, mirrored in the oracle


def _simhash_pairs_sql() -> str:
    chunks = ", ".join(
        f"(simhash >> {i * _SH_CHUNK_BITS}) & {(1 << _SH_CHUNK_BITS) - 1}"
        for i in range(_SH_CHUNKS)
    )
    return f"""
    WITH sh AS ({_simhash_sql().replace("ORDER BY doc_id", "")}),
    blk AS (
      SELECT doc_id, simhash, ci, cv
      FROM (SELECT doc_id, simhash,
                   unnest(generate_series(0, {_SH_CHUNKS - 1})) AS ci,
                   unnest([{chunks}]) AS cv
            FROM sh)
    ),
    sized AS (
      SELECT doc_id, simhash, ci, cv,
             COUNT(*) OVER (PARTITION BY ci, cv) AS bucket_docs
      FROM blk
    ),
    kept AS (SELECT * FROM sized WHERE bucket_docs <= {_SH_BUCKET_CAP}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sa, b.simhash AS sb
      FROM kept a JOIN kept b
        ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= {_SH_HAM_T}
    ORDER BY doc_a, doc_b
    """


@query(
    "c108_simhash_hamming_pairs",
    _simhash_pairs_sql(),
    doc="""Oracle replicates the identical chunk blocking and skew cap
    from the same registered simhash relation; hamming distances are
    integers — no float caveat. Completeness at the threshold is
    structural (pigeonhole), not probabilistic.""",
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2c': the SEARCH half of SimHash dedup (c02_dedup_simhash emits
    the fingerprints; this finds the hamming-close pairs) — Manku et
    al.'s block-permuted scheme, the web-crawl-scale standard: split
    the 60-bit fingerprint into 4 x 15-bit chunks; any pair within
    hamming distance 3 differs in at most 3 bits, so by pigeonhole at
    least ONE chunk is bit-identical — candidates are exactly the
    pairs sharing (chunk_idx, chunk_value), an equi-join, and recall
    at the threshold is 100% BY CONSTRUCTION (unlike MinHash-LSH's
    probabilistic recall, c02). Verify is one codegen'd
    bit_count(xor) <= 3 on the candidate pairs.

    Skew guard (same discipline as the LSH banding): a chunk value
    shared by > 512 docs (degenerate fingerprints from near-empty
    documents) is dropped before pairing, window-counted in the same
    exchange that the pair join reuses; the oracle mirrors the cap so
    parity is structural.

    Scale shape (100 TB): fingerprints are 8 bytes/doc; the blocking
    explode is x4; one shuffle on (chunk_idx, chunk_value); verify
    payload is two BIGINTs per candidate. This is the cheapest
    complete near-dup pass that exists — the reason crawl dedup runs
    SimHash before anything shingle-based.
    """
    sh = dedup_simhash(spark, sf_dir)  # (doc_id, simhash) — the registered rel
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("ci"),
                F.shiftright("simhash", i * _SH_CHUNK_BITS)
                .bitwiseAND(F.lit((1 << _SH_CHUNK_BITS) - 1))
                .alias("cv"),
            )
            for i in range(_SH_CHUNKS)
        ]
    )
    blk = sh.select(
        "doc_id", "simhash", F.explode(chunk_structs).alias("c")
    ).select("doc_id", "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    w = Window.partitionBy("ci", "cv")
    kept = blk.withColumn("bucket_docs", F.count("*").over(w)).filter(
        F.col("bucket_docs") <= _SH_BUCKET_CAP
    )
    a, b = kept.alias("a"), kept.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= _SH_HAM_T)
        .orderBy("doc_a", "doc_b")
    )
