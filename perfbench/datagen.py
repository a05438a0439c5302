"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical parquet files. The tables mirror the shape of the
repo's TPC-H-like test data (TESTDATA.md) at a chosen scale factor, so
the headline queries run unchanged against them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the word list of the repo's test documents; every text also carries
# English marker words, so curation's lang-id keeps it
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
P_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]

DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _word_texts(rng, n: int, lo: int = 10, hi: int = 100) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """The ten query tables at scale factor ``sf`` (1.0 = 6M lineitems)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 1)
    n_docs, n_vec = int(50_000 * sf), int(50_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    order_keys = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype("float64")
    _write(out_dir, "lineitem", {
        "l_orderkey": order_keys,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(1, 2500, n_line) * DAY_US),
    })
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    texts = _word_texts(rng, n_docs)
    # about 5% of documents are a near copy of an earlier one (the
    # original's text plus a " dup" marker), so the dedup queries
    # have real work
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    vecs = rng.standard_normal((n_vec, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype("int32"),
    })


def _random_word(rng) -> str:
    # 4-9 random letters: never one of the 2-3 letter lang-id markers
    n = int(rng.integers(4, 10))
    return "".join(chr(97 + c) for c in rng.integers(0, 26, n))


def stream_docs(seed: int, n_files: int, docs_per_file: int) -> list[dict]:
    """Document batches for the streaming ingest, one dict of columns
    per staged file, plus the expected outcome by construction.

    Originals are random-letter texts (no two share a meaningful
    share of character 5-grams) with English marker words, so they
    pass curation and are all kept. About one in eight rows is a
    planted copy of an EARLIER original: exact copies, and near
    copies (two words appended, char-5-gram Jaccard well above 0.9).
    Every copy must be flagged by the in-stream detector and never
    reach the store. Event times rise one second per row, so the
    whole stream sits inside one watermark window.
    """
    rng = np.random.default_rng([seed, 2])
    files, originals = [], []
    next_id, arrival = 0, 0
    for _ in range(n_files):
        cols = {"doc_id": [], "text": [], "source": [], "ts": []}
        copies = []
        for _ in range(docs_per_file):
            if originals and rng.random() < 0.125:
                src_id, src_text = originals[int(rng.integers(0, len(originals)))]
                text = src_text
                if rng.random() < 0.5:
                    text += f" {_random_word(rng)} {_random_word(rng)}"
                copies.append(next_id)
            else:
                words = [_random_word(rng) for _ in range(int(rng.integers(40, 80)))]
                for j in range(0, len(words), 8):
                    words[j] = ("the", "a", "of", "and", "is")[j % 5]
                text = " ".join(words)
                originals.append((next_id, text))
            cols["doc_id"].append(next_id)
            cols["text"].append(text)
            cols["source"].append(f"s{int(rng.integers(0, 20))}")
            cols["ts"].append(EPOCH_2024_US + arrival * 1_000_000)
            next_id += 1
            arrival += 1
        files.append({"cols": cols, "copies": copies})
    return files


def write_stream_file(path: str, cols: dict) -> None:
    table = pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.int64()),
        "text": pa.array(cols["text"], pa.string()),
        "source": pa.array(cols["source"], pa.string()),
        "ts": _ts(np.array(cols["ts"], dtype="int64")),
    })
    pq.write_table(table, path)
