"""Input tables for the benchmark.

Writes the ten tables sparkobs reads (the TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``) with the schemas and value
domains the engine's fixtures document: same column names and types,
same categorical vocabularies, same ranges. The base tables are one
fixed dataset per scale factor (generator seed ``BASE_SEED``, as the
repo's own test data is), so every run of a workload reads the same
base; file mtimes are pinned so listing-based monitors see the same
metadata.

``mirror_tables`` builds the data-bound 10x mirror from the run's seed:
documents, embeddings, orders and lineitem are copied nine more times
at consistent key offsets; each document copy rewrites every 5th token
(the seed assigns the phases 0-4 to the copies) and each embedding copy adds
seeded noise, so every base document gains nine near-copies.
Dimensions and events stay 1x. The same seed writes byte-identical
files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
BASE_SEED = 42
COPIES = 10
# every staged file carries this mtime (2024-02-01T00:00:00Z) so the
# listing monitors read the same metadata on every run of a seed
PINNED_MTIME = 1706745600

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (lineitem = 6M x sf)."""
    n = lambda k: max(1, int(round(k * sf)))  # noqa: E731
    return {
        "region": 5, "nation": 25,
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "documents": n(50_000), "embeddings": n(50_000),
    }


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def _pick(rng, values, size):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), size)]


def _days(rng, start, span_days, size):
    return start + rng.integers(0, span_days, size) * np.timedelta64(1, "D")


def _doc_text(rng, n_docs):
    lengths = rng.integers(10, 100, n_docs)
    tokens = rng.integers(0, len(VOCAB), lengths.sum())
    vocab = np.asarray(VOCAB, dtype=object)
    texts, at = [], 0
    for ln in lengths:
        texts.append(list(vocab[tokens[at:at + ln]]))
        at += ln
    # ~5% of documents carry a trailing "dup" marker, as the fixtures do
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i].append("dup")
    return texts


def build_tables(sf: float, seed: int = BASE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n = row_counts(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [
            f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, p), _pick(rng, PART_NOUN, p))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, _EPOCH_1995, 2404, o),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _days(rng, _EPOCH_1995 + np.timedelta64(1, "D"), 2498, li),
    })
    e = n["events"]
    ts = np.sort(rng.integers(0, 30 * _DAY_US, e))
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _EPOCH_2024 + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, int(round(15_000 * sf))), e),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [" ".join(tok) for tok in _doc_text(rng, d)]
    t["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, d),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    m = n["embeddings"]
    vec = rng.standard_normal((m, EMB_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = _embeddings(np.arange(m, dtype=np.int64), vec, rng.integers(0, 10, m))
    return t


def _embeddings(ids, vec, labels) -> pa.Table:
    flat = pa.array(vec.reshape(-1), pa.float32())
    return pa.table({
        "vec_id": ids,
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, vec.size + 1, vec.shape[1], dtype=np.int32)), flat
        ),
        "label": pa.array(labels, pa.int32()),
    })


def mirror_tables(base: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """The 10x mirror of ``base`` (see the module docstring)."""
    rng = np.random.default_rng([seed, 2])
    out = dict(base)
    n_docs = base["documents"].num_rows
    n_orders = base["orders"].num_rows
    docs = base["documents"].to_pydict()
    tok = [x.split(" ") for x in docs["text"]]
    text, ids = list(docs["text"]), list(docs["doc_id"])
    # every seed uses each phase about equally often and only assigns
    # them to copies differently, so the near-duplicate structure (and
    # the work of the dedup queries) is the same from seed to seed
    phases = rng.permutation([c % 5 for c in range(COPIES - 1)])
    for copy, phase in zip(range(1, COPIES), phases):
        for i, words in enumerate(tok):
            w = list(words)
            for j in range(phase, len(w), 5):
                w[j] = VOCAB[(VOCAB.index(w[j]) + copy) % len(VOCAB)] if w[j] in VOCAB else w[j]
            text.append(" ".join(w))
            ids.append(docs["doc_id"][i] + copy * n_docs)
    reps = lambda col: docs[col] * COPIES  # noqa: E731
    out["documents"] = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": text,
        "lang": reps("lang"),
        "source": reps("source"),
        "n_chars": pa.array([len(x) for x in text], pa.int64()),
    })
    emb = base["embeddings"]
    m = emb.num_rows
    vec0 = np.asarray(emb["embedding"].combine_chunks().flatten(), np.float32).reshape(m, -1)
    vecs = [vec0]
    for _ in range(1, COPIES):
        v = vec0 + 0.05 * rng.standard_normal(vec0.shape).astype(np.float32)
        vecs.append(v / np.linalg.norm(v, axis=1, keepdims=True))
    out["embeddings"] = _embeddings(
        np.arange(m * COPIES, dtype=np.int64),
        np.concatenate(vecs),
        np.tile(np.asarray(emb["label"]), COPIES),
    )
    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        tab = base[name]
        parts = []
        for copy in range(COPIES):
            keys = pc.add(tab[key], pa.scalar(copy * n_orders, pa.int64()))
            parts.append(tab.set_column(tab.schema.get_field_index(key), key, keys))
        out[name] = pa.concat_tables(parts)
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tab, path, row_group_size=131_072)
        os.utime(path, (PINNED_MTIME, PINNED_MTIME))


def stage(seed: int, sf: float, out_dir: str, mirror: bool = False) -> dict[str, int]:
    """Write the base tables at ``sf`` (or their 10x mirror for
    ``seed``) into ``out_dir``; return the row count of every table."""
    tables = build_tables(sf)
    if mirror:
        tables = mirror_tables(tables, seed)
    write_tables(tables, out_dir)
    return {name: tab.num_rows for name, tab in tables.items()}
