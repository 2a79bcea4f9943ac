"""Seeded inputs for the benchmark workloads.

Everything the program under test reads is made here from the workload
seed: the ten catalog tables the registry queries scan (same schemas and
value domains as the catalog in ``crane_stream_processing_spark.catalog``),
and the line corpora of the three reference apps. The same seed gives the
same bytes; nothing here touches Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def seeded(seed: int, stream: str) -> np.random.Generator:
    # One independent stream per table or corpus, so adding a column to one
    # generator does not shift the bytes of every other.
    return np.random.default_rng([seed, *stream.encode()])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def table_rows(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (lineitem = 6M x sf)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    n = table_rows(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = seeded(seed, "customer")
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": r.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, k)],
    })

    r = seeded(seed, "supplier")
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": r.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, k),
    })

    r = seeded(seed, "part")
    k = n["part"]
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    keys = np.arange(k, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": names[r.integers(0, len(names), k)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[r.integers(0, 25, k)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, k)],
        "p_size": r.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })

    r = seeded(seed, "orders")
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": r.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, k)],
        "o_totalprice": _money(r, 1000.0, 500000.0, k),
        "o_orderdate": _ts(_EPOCH_1995 + r.integers(0, 2404, k) * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, k)],
    })

    r = seeded(seed, "lineitem")
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": r.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": r.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": r.integers(1, 8, k).astype(np.int32),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, k),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, k)],
        "l_shipdate": _ts(_EPOCH_1995 + r.integers(1, 2499, k) * _DAY_US),
    })

    r = seeded(seed, "events")
    k = n["events"]
    ts = np.sort(r.integers(0, 30 * _DAY_US, k))
    out["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + ts),
        "user_id": r.integers(0, max(10, int(15_000 * sf)), k).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, k)],
        "value": np.round(r.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
    })

    r = seeded(seed, "documents")
    k = n["documents"]
    words = np.array(DOC_WORDS)
    texts: list[str] = []
    for i, w in enumerate(r.integers(10, 101, k)):
        # One document in twenty repeats an earlier one plus a marker word:
        # the near-duplicate share the dedup queries look for.
        if i > 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[r.integers(0, len(words), w)]))
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    out["documents"] = pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, k, p=lang_p)],
        "source": np.array([f"src{i}" for i in range(20)])[r.integers(0, 20, k)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    r = seeded(seed, "embeddings")
    k = n["embeddings"]
    centers = r.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = r.integers(0, 10, k)
    vecs = r.normal(size=(k, 64)) + 1.2 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every catalog table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in make_tables(sf, seed).items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


# -- reference-app corpora ------------------------------------------------


def _zipf_ids(rng, n: int, universe: int, s: float = 1.1) -> np.ndarray:
    """Zipf-distributed ids in [0, universe): rank r has weight r^-s."""
    ranks = np.arange(1, universe + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -s)
    cdf /= cdf[-1]
    return np.searchsorted(cdf, rng.random(n))


def word_lines(rng, n: int, vocab: int = 50_000, words_per_line: int = 8) -> list[str]:
    """Free text: Zipf words over a large vocabulary (wordCount)."""
    ids = _zipf_ids(rng, n * words_per_line, vocab).reshape(n, words_per_line)
    return [" ".join(f"w{i}" for i in row) for row in ids]


def edge_lines(rng, n: int, users: int = 1_000_000) -> list[str]:
    """"follower followee" edges, Zipf followees over ~10^6 users (twitter)."""
    followers = rng.integers(0, users, n)
    followees = _zipf_ids(rng, n, users, s=0.9)
    return [f"{a} {b}" for a, b in zip(followers, followees)]


def clf_lines(rng, n: int, resources: int = 100) -> list[str]:
    """Common-Log-format lines, ~25 % non-200, ~10^2 resources (hothttp)."""
    res = _zipf_ids(rng, n, resources)
    status = np.where(rng.random(n) < 0.25, 404, 200)
    size = rng.integers(1, 5000, n)
    host = rng.integers(0, 500, n)
    return [
        f'host{h} - - [01/Jan/2026:00:00:00 +0000] "GET /r/{r_} HTTP/1.0" {s} {b}'
        for h, r_, s, b in zip(host, res, status, size)
    ]


CORPORA = {"wordCount": word_lines, "twitter": edge_lines, "hothttp": clf_lines}


def make_corpus(app: str, seed: int, n: int) -> list[str]:
    return CORPORA[app](seeded(seed, f"corpus-{app}"), n)
