"""Seeded input generator for the benchmark.

Two kinds of input, both a pure function of ``seed`` (numpy PCG64; no Spark
session is needed, so generation never counts towards set-up time):

- ``write_star_schema``: the TPC-H-style star schema plus ``events``,
  ``documents`` and ``embeddings``, with the column names, types and value
  domains of the engine's sf0.01 test fixture (FIXTURES.md section 1).
- ``write_zipf_corpus``: ``documents(doc_id, text)`` drawn like
  ``bench_sf1.build_docs_zipf`` (35% of tokens from a 2k-word Zipf head, 65%
  from a tail vocabulary of 10 words per document, 80-199 tokens) with the
  5% controlled duplicates of ``bench_sf1.build_dup_docs``. Words are
  alphabetic, so the inverted index sees the whole vocabulary.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_ORDER_EPOCH = np.datetime64("1995-01-01", "us")
_EVENT_EPOCH = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _write(out_dir: str, name: str, columns: dict[str, pa.Array], row_groups: int = 1) -> None:
    table = pa.table(columns)
    rows_per_group = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=rows_per_group)


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def _days(rng: np.random.Generator, span_days: int, n: int, offset: int = 0) -> pa.Array:
    days = rng.integers(offset, offset + span_days, n)
    return pa.array(_ORDER_EPOCH + days * np.timedelta64(_DAY_US, "us"), pa.timestamp("us"))


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    vocab = np.asarray(DOC_WORDS, dtype=object)
    lengths = rng.integers(lo, hi + 1, n)
    return [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]


def _dup_target(doc_id: int, span: int) -> int:
    """A fixed pseudo-random number in ``[0, span)`` for ``doc_id``."""
    return (doc_id * 2_654_435_761 >> 7) % span


def write_star_schema(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten fixture tables for scale factor ``sf`` (0.01 gives the
    sf0.01 fixture's row counts) into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = n_emb = 500
    n_users = max(10, int(15_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0, pa.float64()),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    quantity = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(quantity, pa.float64()),
        "l_extendedprice": pa.array(np.round(quantity * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, pa.float64()),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _days(rng, 2498, n_line, offset=1),
    })
    # naive wall-clock micros over 30 days, increasing with event_id; written
    # as TIMESTAMP(isAdjustedToUTC=false) like the fixture
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(_EVENT_EPOCH + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": pa.array(np.round(rng.exponential(49.6, n_events) + 0.01, 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], pa.string()),
    })
    texts = _texts(rng, n_docs, 10, 99)
    # 5% near-duplicates: an earlier document's text with its last word
    # replaced by "dup". Which document each copies does not depend on the
    # seed, so iterative dedup runs the same number of rounds on every seed.
    for d in range(20, n_docs, 20):
        words = texts[_dup_target(d, d)].split(" ")
        texts[d] = " ".join(words[:-1] + ["dup"])
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n_docs),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _alpha_words(n: int) -> np.ndarray:
    """Distinct lowercase words for ids ``0..n-1`` (bijective base 26, least
    significant letter first, so first letters are uniform). The engine's
    tokenizer keeps letters only, so words carry no digits."""
    words = []
    for i in range(n):
        k, letters = i + 1, []
        while k:
            k, d = divmod(k - 1, 26)
            letters.append(chr(97 + d))
        words.append("".join(letters))
    return np.asarray(words, dtype=object)


def write_zipf_corpus(out_dir: str, seed: int, n_docs: int, row_groups: int = 8) -> None:
    """Write ``documents(doc_id, text)``: ``n_docs`` zipf documents of which
    every 20th (from id 60) copies the original text of one of the 59
    documents before it (the same one on every seed), so clusters of two or
    more exact duplicates exist."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    lengths = rng.integers(80, 200, n_docs)
    total = int(lengths.sum())
    head = rng.random(total) < 0.35
    head_rank = np.power(2000.0, rng.integers(0, 1000, total) / 1000.0).astype(np.int64)
    tail_word = 2000 + rng.integers(0, 10 * n_docs, total)
    tokens = _alpha_words(2000 + 10 * n_docs)[np.where(head, head_rank, tail_word)]
    ends = np.cumsum(lengths)
    original = [" ".join(tokens[e - k : e]) for e, k in zip(ends, lengths)]
    texts = list(original)
    for d in range(60, n_docs, 20):
        texts[d] = original[d - 1 - _dup_target(d, 59)]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
    }, row_groups=row_groups)


def ensure_inputs(root: str, kind: str, seed: int, size: float) -> str:
    """Generate the inputs for (``kind``, ``seed``, ``size``) under ``root``
    unless a previous run already did; returns the table directory."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:8]
    out = os.path.join(root, f"{kind}-{size:g}-seed{seed}-{version}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        if kind == "star":
            write_star_schema(out, seed, size)
        else:
            write_zipf_corpus(out, seed, int(size))
        open(done, "w").close()
    return out

