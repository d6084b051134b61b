"""Seeded inputs for the connector benchmark.

Everything here is a pure function of the seed: the source tables the
stores are built from, the LLM corpus, and the op list of each
workload.  The program under test only ever receives what these
functions return, so two runs with one seed see identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Source sizes.  Chosen so one store build fits in a few seconds at
# local[4]; at these sizes an op's cost is mostly fixed per-op work, not
# bytes scanned.
LINEITEM_ORDERS = 25_000  # ~4 lines each -> ~100k items
LINEITEM_SEGMENTS = 16
EVENTS_ITEMS = 20_000
EVENTS_SEGMENTS = 8
EVENTS_USERS = 1_000
CORPUS_DOCS = 1_200
EMBED_DIM = 64

# Op-list lengths: well past what one run can finish at today's op
# latencies (a run executes a prefix); writes are state-dependent and
# cannot be replayed, so a run that exhausts its list simply ends early.
N_OPS = {"kv_lookup": 3_000, "upsert_mixed": 400}

SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
RETURNFLAGS = ["A", "N", "R"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table value "
    "window index segment shard replica token batchget commit snapshot delta "
    "bloom range prefix cursor lease quorum"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]

# UTC-adjusted micros: Spark reads these as TIMESTAMP (not _NTZ), and
# the store keeps that type.
TS = pa.timestamp("us", tz="UTC")
_UTC = dt.timezone.utc
EVENT_EPOCH_US = int(dt.datetime(2024, 1, 1, tzinfo=_UTC).timestamp()) * 1_000_000
SHIP_EPOCH_US = int(dt.datetime(1995, 1, 1, tzinfo=_UTC).timestamp()) * 1_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    # One independent stream per input, so resizing one table does not
    # shift the draws of another.
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


# ---------------------------------------------------------------------------
# Source tables
# ---------------------------------------------------------------------------

def lineitem(seed: int) -> pa.Table:
    r = _rng(seed, "lineitem")
    lines = r.integers(1, 8, LINEITEM_ORDERS)
    orderkey = np.repeat(np.arange(1, LINEITEM_ORDERS + 1, dtype=np.int64) * 4, lines)
    linenumber = np.concatenate([np.arange(1, n + 1) for n in lines]).astype(np.int32)
    n = len(orderkey)
    qty = r.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * r.uniform(900.0, 2100.0, n), 2)
    ship_day = r.integers(0, 2_500, n)
    shipdate = (SHIP_EPOCH_US + ship_day * 86_400_000_000).astype(np.int64)
    return pa.table(
        {
            "l_orderkey": orderkey,
            "l_linenumber": linenumber,
            "l_partkey": r.integers(1, 20_000, n).astype(np.int64),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(r.integers(0, 11, n) / 100.0, 2),
            "l_returnflag": np.array(RETURNFLAGS)[r.integers(0, 3, n)],
            "l_shipmode": np.array(SHIPMODES)[r.integers(0, len(SHIPMODES), n)],
            "l_shipdate": pa.array(shipdate, TS),
        }
    )


def events(seed: int) -> pa.Table:
    r = _rng(seed, "events")
    n = EVENTS_ITEMS
    return pa.table(
        {
            "user_id": r.integers(0, EVENTS_USERS, n).astype(np.int64),
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(EVENT_EPOCH_US + np.sort(r.integers(0, 86_400_000_000 * 30, n)), TS),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(r.uniform(0, 500, n), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
        }
    )


def documents(seed: int) -> pa.Table:
    """Word-soup corpus with planted exact and near duplicates, the
    shape the registry's dedup operators are written for."""
    r = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(CORPUS_DOCS):
        roll = r.random()
        if i > 10 and roll < 0.06:  # exact copy, case/space variant
            src = texts[int(r.integers(0, i))]
            texts.append(src.upper() if r.random() < 0.5 else src.replace(" ", "  ", 3))
        elif i > 10 and roll < 0.14:  # near copy: one word swapped
            words = texts[int(r.integers(0, i))].split()
            words[int(r.integers(0, len(words)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(r.integers(15, 70))
            texts.append(" ".join(np.array(VOCAB)[r.integers(0, len(VOCAB), k)]))
    return pa.table(
        {
            "doc_id": np.arange(CORPUS_DOCS, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[r.integers(0, len(LANGS), CORPUS_DOCS)],
            "source": [f"src{s}" for s in r.integers(0, 20, CORPUS_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(seed: int) -> pa.Table:
    r = _rng(seed, "embeddings")
    vecs = r.normal(0, 0.15, (CORPUS_DOCS, EMBED_DIM)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(CORPUS_DOCS, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": r.integers(0, 10, CORPUS_DOCS).astype(np.int32),
        }
    )


SOURCES = {
    "lineitem": lineitem,
    "events": events,
    "documents": documents,
    "embeddings": embeddings,
}


def write_sources(seed: int, out_dir: str, names: list[str]) -> dict[str, str]:
    """Write the named source tables as ``<out_dir>/<name>.parquet``
    (the fixture layout the registry's ``load_table`` reads)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name in names:
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(SOURCES[name](seed), paths[name])
    return paths


# ---------------------------------------------------------------------------
# Op lists.  Op kinds follow a fixed cycle and only their arguments are
# drawn from the seed, so every seed runs the same mix of kinds.
# ---------------------------------------------------------------------------

def _lookup_key(r: np.random.Generator, max_order: int) -> int:
    """Half the draws hit a 64-key hot set with 1/rank weights (a skewed
    caller); half are uniform over the key space plus a 5% margin of
    keys that do not exist (a miss is an empty, correct answer)."""
    if r.random() < 0.5:
        w = 1.0 / np.arange(1, 65)
        rank = int(r.choice(64, p=w / w.sum()))
        return (1 + (rank * 389) % max_order) * 4
    return int(r.integers(1, int(max_order * 1.05) + 1)) * 4


def kv_lookup_ops(seed: int, n_ops: int = N_OPS["kv_lookup"]) -> list[dict]:
    r = _rng(seed, "kv_lookup_ops")
    ops = []
    for i in range(n_ops):
        kind = ("get", "query", "batch_get")[i % 3]
        if kind == "get":
            op = {"key": _lookup_key(r, LINEITEM_ORDERS), "line": int(r.integers(1, 8))}
        elif kind == "query":
            op = {"key": _lookup_key(r, LINEITEM_ORDERS)}
        else:
            keys: set[int] = set()
            while len(keys) < 25:  # 25 distinct keys, like a BatchGetItem
                keys.add(_lookup_key(r, LINEITEM_ORDERS))
            op = {"keys": sorted(keys)}
        ops.append({"kind": kind, **op})
    return ops


BATCH_SIZES = [25, 50, 100, 250, 500, 1000]


def upsert_mixed_ops(seed: int, n_ops: int = N_OPS["upsert_mixed"]) -> list[dict]:
    """Writes against the events store, generated against a model of
    its key set so updates and deletes name live keys.  Every write op
    names one of its keys for the read-your-writes check."""
    r = _rng(seed, "upsert_mixed_ops")
    src = events(seed)
    keys = list(zip(src["user_id"].to_pylist(), src["event_id"].to_pylist()))
    pos = {k: i for i, k in enumerate(keys)}
    next_event = EVENTS_ITEMS
    sizes: list[int] = []

    def take_live(n: int) -> list[tuple[int, int]]:
        idx = r.choice(len(keys), size=min(n, len(keys)), replace=False)
        return [keys[int(i)] for i in idx]

    def drop(k):
        i = pos.pop(k)
        last = keys.pop()
        if i < len(keys):
            keys[i] = last
            pos[last] = i

    ops = []
    for i in range(n_ops):
        kind = ("count", "put", "update", "delete")[i % 4]
        if kind == "count":
            ops.append({"kind": kind})
            continue
        if not sizes:
            sizes = [int(s) for s in r.permutation(BATCH_SIZES)]
        n = sizes.pop()
        if kind == "put":
            old = take_live(n // 2)
            fresh = []
            for _ in range(n - len(old)):
                fresh.append((int(r.integers(0, EVENTS_USERS)), next_event))
                next_event += 1
            batch = old + fresh
            items = [
                {
                    "user_id": u,
                    "event_id": e,
                    "ts": EVENT_EPOCH_US + int(r.integers(0, 86_400_000_000 * 30)),
                    "event_type": EVENT_TYPES[int(r.integers(0, len(EVENT_TYPES)))],
                    "value": round(float(r.uniform(0, 500)), 2),
                    "props": f'{{"k": {int(r.integers(0, 100))}}}',
                }
                for u, e in batch
            ]
            for k in fresh:
                pos[k] = len(keys)
                keys.append(k)
            op = {"items": items}
        elif kind == "update":
            items = [
                {
                    "user_id": u,
                    "event_id": e,
                    "value": round(float(r.uniform(500, 1000)), 2),
                    "props": f'{{"k": {int(r.integers(100, 200))}}}',
                }
                for u, e in take_live(n)
            ]
            op = {"items": items}
        else:
            items = [{"user_id": u, "event_id": e} for u, e in take_live(n)]
            for it in items:
                drop((it["user_id"], it["event_id"]))
            op = {"items": items}
        probe = items[int(r.integers(0, len(items)))]
        op["probe"] = (probe["user_id"], probe["event_id"])
        ops.append({"kind": kind, **op})
    return ops


OP_LISTS = {
    "kv_lookup": kv_lookup_ops,
    "upsert_mixed": upsert_mixed_ops,
}
