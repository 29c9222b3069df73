"""Seeded input generators for the benchmark.

Every generator is a pure function of ``(seed, scale)``: the same pair
always writes byte-identical files.  Outputs are cached under
``perfbench/.cache/<kind>-s<seed>-x<scale>/`` next to a ``manifest.json``
(seed, bytes, file and row counts, Zipf exponent, planted cluster sizes,
hot-cluster share); a directory with a manifest is reused as is.
Generation is never inside a timed region.

Three inputs:

* ``text_corpus`` - a directory of UTF-8 text files for the reference's
  ``wc``/``ii`` jobs: Zipf word frequencies, mixed case, non-ASCII
  letters, digits and punctuation as separators, log-spread file sizes.
* ``neardup_docs`` - a ``documents`` table with planted near-duplicate
  clusters (light word edits of one base document) and one hot
  boilerplate cluster (one template, one word changed per copy).
* ``star_schema`` - the TPC-H-like ``region`` ... ``lineitem`` tables
  plus ``events`` and a small ``documents``/``embeddings`` pair, with
  the column types and value domains of the project's fixtures.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

ZIPF_EXPONENT = 1.1

# Letters the corpus draws words from: ASCII plus precomposed Latin,
# Greek and Cyrillic letters (all Unicode category L, one code point
# each), so Java's \p{L}, Go's unicode.IsLetter and Python's isalpha()
# agree on every character.
_ASCII = "abcdefghijklmnopqrstuvwxyz"
_EXTRA = "éèüößñçøåæłžšαβγδλπσωжзклмн"
_SEPARATORS = [" ", " ", " ", " ", ", ", ". ", "\n", " - ", "; ", " 42 ", "'", " (", ") ", "_", "3"]


def _cached(kind: str, seed: int, scale: float, build) -> tuple[str, dict]:
    out = os.path.join(CACHE_DIR, f"{kind}-s{seed}-x{scale:g}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            return out, json.load(fh)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = {"kind": kind, "seed": seed, "scale": scale, **build(tmp, seed, scale)}
    manifest["bytes"] = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(tmp) for f in fs
    )
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, manifest


def _vocabulary(rng: np.random.Generator, size: int, letters: str) -> list[str]:
    alphabet = np.array(list(letters))
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(alphabet, int(rng.integers(2, 11)))))
    # sorted first: set order of strings changes between processes
    return [str(w) for w in rng.permutation(sorted(words))]


def _zipf_ranks(rng: np.random.Generator, n: int, vocab: int) -> np.ndarray:
    """``n`` ranks in ``[0, vocab)`` with P(rank k) proportional to (k+1)^-s."""
    p = 1.0 / np.arange(1, vocab + 1) ** ZIPF_EXPONENT
    return rng.choice(vocab, size=n, p=p / p.sum())


# ---------------------------------------------------------------- text files
def _build_text(out: str, seed: int, scale: float) -> dict:
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(rng, 20_000, _ASCII * 4 + _EXTRA)
    n_files = max(4, int(round(12 * scale ** 0.5)))
    # log-uniform shares of a fixed total: a 30x spread of file sizes,
    # like the reference's small/large input sets, at the same volume
    # for every seed.
    shares = np.exp(rng.uniform(0, np.log(30), n_files))
    words_per_file = (shares / shares.sum() * 300_000 * scale).astype(int) + 50
    corpus = os.path.join(out, "input")
    os.makedirs(corpus)
    total_words = 0
    for i, n in enumerate(words_per_file):
        ranks = _zipf_ranks(rng, int(n), len(vocab))
        case = rng.random(int(n))
        seps = rng.integers(0, len(_SEPARATORS), int(n))
        parts = []
        for r, c, s in zip(ranks, case, seps):
            w = vocab[r]
            if c < 0.08:
                w = w.capitalize()
            elif c < 0.10:
                w = w.upper()
            parts.append(w)
            parts.append(_SEPARATORS[s])
        with open(os.path.join(corpus, f"doc{i:03d}.txt"), "w", encoding="utf-8") as fh:
            fh.write("".join(parts))
        total_words += int(n)
    return {"files": n_files, "words": total_words, "vocabulary": len(vocab),
            "zipf_exponent": ZIPF_EXPONENT}


def text_corpus(seed: int, scale: float = 1.0) -> tuple[str, dict]:
    """(directory of the text files, manifest)."""
    out, manifest = _cached("text", seed, scale, _build_text)
    return os.path.join(out, "input"), manifest


# ------------------------------------------------------- near-dup documents
_LANGS = ["en", "en", "en", "es", "de", "fr", "zh"]


def _documents_table(rng: np.random.Generator, n_docs: int, vocab: list[str],
                     cluster_sizes: list[int], hot_size: int) -> tuple[pa.Table, list]:
    """``documents`` with planted clusters; returns the table and the
    planted near-duplicate pairs (doc_a < doc_b)."""
    n_plain = n_docs - sum(cluster_sizes) - hot_size
    lengths = rng.integers(25, 90, n_docs)
    texts: list[str] = []

    def fresh(k: int) -> list[str]:
        # uniform words: unrelated documents share almost no 3-gram, so the
        # LSH work is the planted clusters' and the same for every seed
        return [vocab[r] for r in rng.integers(0, len(vocab), k)]

    for k in lengths[:n_plain]:
        texts.append(" ".join(fresh(int(k))))
    planted = []
    for size in cluster_sizes:
        base = fresh(int(rng.integers(40, 90)))
        first = len(texts)
        for _ in range(size):
            doc = list(base)
            # edit ~4% of the words: pairs keep a 3-gram Jaccard far
            # above the 0.05 near-dup threshold
            for j in rng.choice(len(doc), max(1, len(doc) // 25), replace=False):
                doc[j] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(doc))
        planted += [(a, b) for a in range(first, first + size) for b in range(a + 1, first + size)]
    template = fresh(60)
    for i in range(hot_size):
        doc = list(template)
        doc[i % len(doc)] = f"item{i}"
        texts.append(" ".join(doc))
    order = rng.permutation(n_docs)  # scatter clusters over doc ids
    doc_ids = np.empty(n_docs, dtype=np.int64)
    doc_ids[order] = np.arange(n_docs)
    texts_by_id = [None] * n_docs
    for pos, t in enumerate(texts):
        texts_by_id[doc_ids[pos]] = t
    planted = sorted((min(doc_ids[a], doc_ids[b]), max(doc_ids[a], doc_ids[b])) for a, b in planted)
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts_by_id, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n_docs)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts_by_id], pa.int64()),
    })
    return table, [[int(a), int(b)] for a, b in planted]


def _build_docs(out: str, seed: int, scale: float) -> dict:
    rng = np.random.default_rng([seed, 2])
    # 15,000 documents of ~400 characters: three times the rows and four
    # times the text of the sf0.1 fixtures' documents table
    n_docs = max(200, int(15_000 * scale))
    cluster_sizes = [2 + i % 7 for i in range(max(4, n_docs // 100))]
    hot_size = max(20, n_docs // 100)
    # documents use lowercase ASCII words: the registered dedup queries
    # tokenize on [a-z]
    vocab = _vocabulary(rng, 3_000, _ASCII)
    table, planted = _documents_table(rng, n_docs, vocab, cluster_sizes, hot_size)
    pq.write_table(table, os.path.join(out, "documents.parquet"))
    with open(os.path.join(out, "planted_pairs.json"), "w") as fh:
        json.dump(planted, fh)
    return {"rows": {"documents": n_docs},
            "cluster_sizes": {str(k): cluster_sizes.count(k) for k in sorted(set(cluster_sizes))},
            "hot_cluster_size": hot_size, "hot_cluster_share": hot_size / n_docs,
            "planted_pairs": len(planted)}


def neardup_docs(seed: int, scale: float = 1.0) -> tuple[str, dict]:
    """(directory holding documents.parquet + planted_pairs.json, manifest)."""
    return _cached("docs", seed, scale, _build_docs)


# -------------------------------------------------------------- star schema
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "red", "blue", "hot", "green", "dark", "light", "big"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "spring", "nut", "valve"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _days(rng, n, start: str, span_days: int) -> pa.Array:
    base = datetime.fromisoformat(start)
    d = rng.integers(0, span_days, n)
    return pa.array([base + timedelta(days=int(x)) for x in d], pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    # Whole amounts: with discounts and taxes in multiples of 1/32 every
    # product and sum the queries form is exact in binary floating point,
    # so Spark and DuckDB agree bit for bit whatever their summation order.
    return rng.integers(lo, hi, n).astype(float)


def _build_star(out: str, seed: int, scale: float) -> dict:
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_line, n_evt = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": _REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999, 10000, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999, 10000, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900 + (np.arange(n_part) % 100).astype(float),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2405),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(float),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": rng.integers(0, 4, n_line) / 32.0,
            "l_tax": rng.integers(0, 3, n_line) / 32.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _days(rng, n_line, "1995-01-02", 2498),
        }),
    }
    gaps = rng.exponential(30 * 86400 / max(n_evt, 1), n_evt)
    start = datetime(2024, 1, 1)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array([start + timedelta(seconds=float(s)) for s in np.cumsum(gaps)],
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_evt), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50, n_evt) * 4) / 4 + 0.25,
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)],
    })
    n_docs = max(50, int(500 * scale))
    docs, _ = _documents_table(rng, n_docs, _vocabulary(rng, 3_000, _ASCII), [], 0)
    tables["documents"] = docs
    emb = rng.normal(0, 0.1, (n_docs, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), pa.int32()),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return {"rows": {name: t.num_rows for name, t in tables.items()}}


def star_schema(seed: int, scale: float = 1.0) -> tuple[str, dict]:
    """(directory with one parquet file per fixture table, manifest)."""
    return _cached("star", seed, scale, _build_star)
