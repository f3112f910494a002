"""Seeded input generator for the benchmark workloads.

Writes the ten tables the registered keys read (``region`` .. ``embeddings``)
as parquet, with the same column names, physical types and value domains as
the repository's testdata (FIXTURES.md), so every key runs unmodified. Foreign
keys are consistent: ``orders.o_custkey`` and ``lineitem``'s part, supplier
and order keys all reference existing rows.

The documents and embeddings tables are shaped per workload by a
:class:`Corpus` (vocabulary size, Zipf skew, doc length, planted
near-duplicate and excerpt shares, embedding clustering). Generation is
pure numpy on one ``numpy.random.Generator`` per table, seeded from the
run seed and the table name, so the same seed gives byte-identical
parquet.
"""

from __future__ import annotations

import dataclasses
import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The testdata corpus vocabulary (31 lowercase words). Every corpus keeps
#: them as its most frequent ranks, so keys that look for a particular word
#: ("the", "a", "dup", ...) still find it.
BASE_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
DUP_MARK = "dup"

LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@dataclasses.dataclass(frozen=True)
class Corpus:
    """Shape of the ``documents`` and ``embeddings`` tables."""

    n_docs: int
    vocab: int  # distinct tokens, BASE_WORDS included
    zipf_s: float  # token rank r is drawn with weight 1 / r**zipf_s
    min_len: int
    max_len: int
    near_dup_share: float  # docs that are a one-token edit of another doc
    excerpt_share: float  # docs that are >=90% a slice of a doc >=2x longer
    cluster_share: float = 0.0  # docs in heavy-tailed near-duplicate clusters
    n_vecs: int = 500
    vec_cluster_share: float = 0.0  # vectors in tight near-duplicate groups


#: Pareto tail of the near-duplicate cluster sizes
CLUSTER_ALPHA = 1.5

#: Row counts of the relational tables: the testdata sf0.001 shape.
N_SUPPLIERS, N_CUSTOMERS, N_PARTS, N_ORDERS, N_LINEITEMS = 10, 150, 200, 1500, 6000
N_EVENTS, N_USERS = 1000, 15


def _rng(seed: int, name: str) -> np.random.Generator:
    digest = hashlib.sha256(f"{seed}:{name}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    a, b = np.datetime64(start, "D"), np.datetime64(end, "D")
    off = rng.integers(0, (b - a).astype(int) + 1, n)
    return (a + off).astype("datetime64[us]")


def _write(out: Path, name: str, table: pa.Table) -> None:
    pq.write_table(table, out / f"{name}.parquet", compression="snappy")


def _relational(out: Path, seed: int) -> None:
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    }))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    r = _rng(seed, "supplier")
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPPLIERS), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)]),
        "s_nationkey": pa.array(r.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, N_SUPPLIERS)),
    }))

    r = _rng(seed, "customer")
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(N_CUSTOMERS), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMERS)]),
        "c_nationkey": pa.array(r.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, N_CUSTOMERS)),
        "c_mktsegment": pa.array(r.choice(SEGMENTS, N_CUSTOMERS)),
    }))

    r = _rng(seed, "part")
    keys = np.arange(N_PARTS)
    _write(out, "part", pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(r.integers(0, 8, N_PARTS), r.integers(0, 8, N_PARTS))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, N_PARTS)]),
        "p_type": pa.array(r.choice(PART_TYPES, N_PARTS)),
        "p_size": pa.array(r.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2)),
    }))

    r = _rng(seed, "orders")
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(r.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
        "o_orderstatus": pa.array(r.choice(("F", "O", "P"), N_ORDERS)),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, N_ORDERS)),
        "o_orderdate": pa.array(_days(r, "1995-01-01", "2001-08-01", N_ORDERS)),
        "o_orderpriority": pa.array(r.choice(PRIORITIES, N_ORDERS)),
    }))

    r = _rng(seed, "lineitem")
    n = N_LINEITEMS
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(r.integers(0, N_ORDERS, n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, N_PARTS, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, N_SUPPLIERS, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n)),
        "l_discount": pa.array(np.round(r.uniform(0.0, 0.1, n), 2)),
        "l_tax": pa.array(np.round(r.uniform(0.0, 0.08, n), 2)),
        "l_returnflag": pa.array(r.choice(("A", "N", "R"), n)),
        "l_linestatus": pa.array(r.choice(("F", "O"), n)),
        "l_shipdate": pa.array(_days(r, "1995-01-02", "2001-11-04", n)),
    }))

    r = _rng(seed, "events")
    n = N_EVENTS
    span_us = int(30 * 86400 * 1e6)
    ts = np.sort(r.integers(0, span_us, n)) + np.datetime64("2024-01-01", "us")
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, N_USERS, n), pa.int64()),
        "event_type": pa.array(r.choice(EVENT_TYPES, n)),
        "value": pa.array(np.clip(np.round(r.exponential(50.0, n), 2), 0.01, None)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    }))


def vocabulary(seed: int, size: int) -> list[str]:
    """``BASE_WORDS`` then ``size - 31`` distinct lowercase pseudo-words."""
    r = _rng(seed, "vocab")
    words = list(BASE_WORDS)
    seen = set(words) | {DUP_MARK}
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(words) < size:
        w = "".join(r.choice(letters, int(r.integers(3, 9))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _documents(r: np.random.Generator, c: Corpus, words: list[str]) -> tuple[list[str], dict]:
    """Token lists for ``c.n_docs`` docs. Base docs draw Zipf tokens; planted
    docs are derived from earlier base docs, placed at random ids."""
    weights = 1.0 / np.arange(1, len(words) + 1) ** c.zipf_s
    weights /= weights.sum()
    lengths = r.integers(c.min_len, c.max_len + 1, c.n_docs)
    docs = [
        [words[i] for i in r.choice(len(words), n, p=weights)] for n in lengths
    ]
    n_dup = int(round(c.near_dup_share * c.n_docs))
    n_exc = int(round(c.excerpt_share * c.n_docs))
    n_clu = int(round(c.cluster_share * c.n_docs))
    order = r.permutation(c.n_docs)
    planted = order[: n_dup + n_exc + n_clu]
    bases = order[n_dup + n_exc + n_clu:]

    def edit(tokens: list[str]) -> list[str]:
        out = list(tokens)
        if r.random() < 0.5:
            out.append(DUP_MARK)
        else:
            out[int(r.integers(0, len(out)))] = words[int(r.choice(len(words), p=weights))]
        return out

    for d in planted[:n_dup]:
        docs[d] = edit(docs[int(r.choice(bases))])
    long_bases = [b for b in bases if len(docs[b]) >= 2 * c.min_len]
    for d in planted[n_dup:n_dup + n_exc]:
        src = docs[int(r.choice(long_bases))]
        n = int(r.integers(max(3, c.min_len // 2), len(src) // 2 + 1))
        start = int(r.integers(0, len(src) - n + 1))
        docs[d] = src[start:start + n]  # every token from a doc >= 2x longer
    # Heavy-tailed clusters: each takes a base doc and rewrites the next
    # ``size - 1`` planted ids as one-token edits of it (or of each other).
    rest = list(planted[n_dup + n_exc:])
    while rest:
        size = min(len(rest), int(np.ceil(r.pareto(CLUSTER_ALPHA) + 1)))
        root = docs[int(r.choice(bases))]
        for d in rest[:size]:
            docs[d] = edit(root)
        rest = rest[size:]
    return [" ".join(t) for t in docs], {"near_dup": n_dup, "excerpt": n_exc, "cluster": n_clu}


def _embeddings(r: np.random.Generator, c: Corpus) -> tuple[np.ndarray, np.ndarray, int]:
    vecs = r.standard_normal((c.n_vecs, EMB_DIM))
    labels = r.integers(0, N_LABELS, c.n_vecs)
    n_clu = int(round(c.vec_cluster_share * c.n_vecs))
    ids = r.permutation(c.n_vecs)[:n_clu]
    i = 0
    while i < n_clu:
        size = min(n_clu - i, int(np.ceil(r.pareto(CLUSTER_ALPHA) + 1)))
        root = vecs[ids[i]] / np.linalg.norm(vecs[ids[i]])
        for j in ids[i + 1:i + size]:
            v = r.standard_normal(EMB_DIM)
            vecs[j] = root + 0.25 * v / np.linalg.norm(v)
            labels[j] = labels[ids[i]]
        i += size
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return vecs, labels, n_clu


def _corpus(out: Path, seed: int, c: Corpus) -> dict:
    r = _rng(seed, "documents")
    texts, planted = _documents(r, c, vocabulary(seed, c.vocab))
    n = c.n_docs
    _write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(r.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    r = _rng(seed, "embeddings")
    vecs, labels, n_vclu = _embeddings(r, c)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(c.n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))
    return {**planted, "vec_cluster": n_vclu}


def generate(out: Path, seed: int, corpus: Corpus) -> dict:
    """Write all ten tables under ``out``; returns the planted-row counts."""
    out.mkdir(parents=True, exist_ok=True)
    _relational(out, seed)
    return _corpus(out, seed, corpus)


def measured_shares(docs_dir: Path) -> dict:
    """Measured share of docs in a Jaccard >= 0.8 pair, and of docs that are
    >= 90% contained in a doc at least twice as long (distinct token sets,
    as the kernel sees them). Exact, by inverted index."""
    texts = pq.read_table(docs_dir / "documents.parquet", columns=["text"])["text"].to_pylist()
    sets = [frozenset(t.split()) for t in texts]
    lens = [len(t.split()) for t in texts]
    index: dict[str, list[int]] = {}
    for i, s in enumerate(sets):
        for tok in s:
            index.setdefault(tok, []).append(i)
    near, excerpt = set(), set()
    for i, s in enumerate(sets):
        # a partner with Jaccard >= 0.8, or holding >= 90% of s, shares one
        # of the int(0.2 |s|) + 1 rarest tokens of s
        rarest = sorted(s, key=lambda tok: len(index[tok]))[: int(len(s) * 0.2) + 1]
        for j in {j for tok in rarest for j in index[tok] if j != i}:
            inter = len(s & sets[j])
            if inter / len(s | sets[j]) >= 0.8:
                near.update((i, j))
            if inter >= 0.9 * len(s) and lens[j] >= 2 * lens[i]:
                excerpt.add(i)
    return {"near_dup_share": len(near) / len(sets), "excerpt_share": len(excerpt) / len(sets)}
