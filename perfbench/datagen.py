"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical parquet files and text files. The program under test only
ever sees the generated files, never the seed.

* ``write_tables`` — the TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings`` that the registered queries read
  (column names and types as in the repository's fixture spec). Dimension
  tables have their full sf0.1 row counts; the fact tables are a seeded
  sample of the sf0.1 row counts.
* ``corpus`` — a Zipf-distributed text corpus over a vocabulary that mixes
  ASCII and non-ASCII letters (the tokenizer splits on non-letters, so
  accented letters must stay inside tokens).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the fixture tables.
SF01_ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "events": 100_000, "documents": 5_000,
    "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64
EMBED_LABELS = 10

# Letters the corpus vocabulary is spelled from: ASCII plus precomposed
# Latin, Greek and Cyrillic letters (all Unicode category L*, so
# str.isalpha, Java's \p{L} and RE2's \p{L} agree on every one of them).
ALPHABET = list("abcdefghijklmnopqrstuvwxyz") + list("éèüößñøåçłžσλдж")
SEPARATORS = [" "] * 12 + [", ", ". ", "; ", " - ", "\n", " 42 ", "! ", "'"]

_EPOCH = dt.datetime(1970, 1, 1)


def _micros(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds() * 1_000_000)


def _day_ts(rng: np.random.Generator, lo: dt.datetime, hi: dt.datetime, n: int) -> pa.Array:
    days = rng.integers(0, (hi - lo).days + 1, n)
    us = _micros(lo) + days.astype(np.int64) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct words, 2-10 letters each, some non-ASCII."""
    words: dict[str, None] = {}
    while len(words) < size:
        n = int(rng.integers(2, 11))
        words["".join(ALPHABET[i] for i in rng.integers(0, len(ALPHABET), n))] = None
    return list(words)


def zipf_text(rng: np.random.Generator, vocab: list[str], n_words: int, a: float = 1.2) -> str:
    """``n_words`` Zipf-ranked words from ``vocab`` joined by mixed
    separators (spaces, punctuation, digits, newlines)."""
    ranks = np.minimum(rng.zipf(a, n_words), len(vocab)) - 1
    seps = rng.integers(0, len(SEPARATORS), n_words)
    return "".join(vocab[r] + SEPARATORS[s] for r, s in zip(ranks, seps)).strip()


def corpus(seed: int, n_docs: int, words_per_doc: int, vocab_size: int = 20_000) -> list[str]:
    """The Tier A corpus: ``n_docs`` texts of about ``words_per_doc`` words."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(rng, vocab_size)
    return [
        zipf_text(rng, vocab, int(words_per_doc * rng.uniform(0.5, 1.5)))
        for _ in range(n_docs)
    ]


def documents_table(texts: list[str], rng: np.random.Generator) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _query_documents(rng: np.random.Generator, n: int) -> list[str]:
    """Short Zipf documents; about one in ten is a lightly edited copy of
    an earlier one, so the dedup and similarity queries find pairs."""
    vocab = vocabulary(rng, 400)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split(" ")
            j = int(rng.integers(0, len(words)))
            words[j] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
        else:
            texts.append(zipf_text(rng, vocab, int(rng.integers(8, 90))))
    return texts


def write_tables(seed: int, out_dir: str, fraction: float) -> None:
    """Write the ten fixture tables under ``out_dir``.

    ``fraction`` scales the fact tables (orders with their lineitems,
    events, documents, embeddings) relative to sf0.1; dimension tables
    keep their sf0.1 sizes.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = SF01_ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string()),
    })
    ns = SF01_ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = SF01_ROWS["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array(
            [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
                rng.integers(0, len(PART_ADJ), npart), rng.integers(0, len(PART_NOUN), npart))],
            pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, npart), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
    })

    no = max(1, int(SF01_ROWS["orders"] * fraction))
    okeys = np.sort(rng.choice(SF01_ROWS["orders"], no, replace=False)).astype(np.int64)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), pa.string()),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _day_ts(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), no),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), pa.string()),
    })
    lines_per_order = rng.integers(1, 8, no)
    nl = int(lines_per_order.sum())
    flags = rng.integers(0, 6, nl)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(okeys, lines_per_order), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines_per_order]), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[flags % 3], pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"])[flags // 3], pa.string()),
        "l_shipdate": _day_ts(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), nl),
    })
    # events come in per-user sessions, minutes apart inside a session, so
    # the time-windowed stream join finds same-user click/purchase pairs
    ne = max(1, int(SF01_ROWS["events"] * fraction))
    session = np.repeat(np.arange(ne), rng.integers(1, 12, ne))[:ne]
    n_sessions = int(session[-1]) + 1
    first = np.searchsorted(session, np.arange(n_sessions))
    gaps = rng.exponential(180e6, ne).astype(np.int64)
    gaps[first] = 0
    since_start = np.cumsum(gaps) - np.cumsum(gaps)[first][session]
    starts = rng.integers(_micros(dt.datetime(2024, 1, 1)), _micros(dt.datetime(2024, 1, 30)), n_sessions)
    users = rng.integers(0, 1500, n_sessions)[session]
    ts = starts[session] + since_start
    order = np.argsort(ts, kind="stable")
    ts, users = ts[order], users[order]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne), pa.string()),
        "value": np.round(rng.exponential(60.0, ne), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
    })
    nd = max(20, int(SF01_ROWS["documents"] * fraction))
    t["documents"] = documents_table(_query_documents(rng, nd), rng)
    nv = max(20, int(SF01_ROWS["embeddings"] * fraction))
    centers = rng.normal(0.0, 1.0, (EMBED_LABELS, EMBED_DIM))
    labels = rng.integers(0, EMBED_LABELS, nv)
    vecs = centers[labels] + rng.normal(0.0, 0.7, (nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
