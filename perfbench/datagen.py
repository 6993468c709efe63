"""The benchmark's input tables, written as parquet.

They stand in for the engine's sf0.1 test tables (lineitem, orders,
documents, embeddings), which a checkout does not hold. Every parameter
below was measured on those tables. The tables are the same for every run: `DATA_SEED` is fixed, so a run's
`--seed` changes only its operation sequence, never its data.

Measured on the sf0.1 tables (row counts, then per column):
- lineitem, 600,000 rows. Keys uniform: l_orderkey 0..149,999,
  l_partkey 0..19,999, l_suppkey 0..999; l_linenumber 1..7;
  l_quantity whole numbers 1..50 (as double); l_extendedprice uniform
  900..105,000 to the cent; l_discount and l_tax uniform on [0, 0.10] and
  [0, 0.08] rounded to the cent (so the end values hold half the share of
  the others); l_returnflag A/N/R and l_linestatus F/O uniform and
  independent; l_shipdate a whole day, uniform over 1995-01-02..2001-11-04.
- orders, 150,000 rows: o_orderkey 0..149,999 in order; o_custkey uniform
  0..14,999; o_orderstatus F/O/P and o_orderpriority (five levels)
  uniform; o_totalprice uniform 1,000..500,000 to the cent; o_orderdate a
  whole day, uniform over 1995-01-01..2001-08-01.
- documents, 5,000 rows: text is 10..100 words (uniform) drawn uniformly
  from a 30-word vocabulary; 250 documents (5%) are another document's
  text with " dup" appended, and 8 are exact copies of another; lang is
  en 41%, de/es/fr/zh 15% each; source is src<doc_id mod 20>; n_chars is
  the length of text.
- embeddings, 2,000 rows: 64-d float32 unit vectors with Gaussian
  directions (no cluster structure: same-label and cross-label mean cosine
  are both ~0), label uniform 0..9 and independent of the vector.
Every table is one SNAPPY row group; timestamps are microseconds, no zone.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

LINEITEM_ROWS = 600_000
ORDERS_ROWS = 150_000
PARTS = 20_000
SUPPLIERS = 1_000
CUSTOMERS = 15_000
DOCUMENTS = 5_000
NEAR_DUPS = 250
EXACT_DUPS = 8
SOURCES = 20
EMBEDDINGS = 2_000
DIM = 64
LABELS = 10

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _days(rng, first, last, n):
    """Whole days, uniform over first..last (numpy datetime64[D] strings)."""
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    days = lo + rng.integers(0, (hi - lo).astype(int) + 1, n)
    return pa.array(days.astype("datetime64[us]"), type=pa.timestamp("us"))


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def lineitem(rng):
    n = LINEITEM_ROWS
    return pa.table({
        "l_orderkey": rng.integers(0, ORDERS_ROWS, n),
        "l_partkey": rng.integers(0, PARTS, n),
        "l_suppkey": rng.integers(0, SUPPLIERS, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _cents(rng, 900, 105_000, n),
        "l_discount": _cents(rng, 0, 0.10, n),
        "l_tax": _cents(rng, 0, 0.08, n),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    })


def orders(rng):
    n = ORDERS_ROWS
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, CUSTOMERS, n),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _cents(rng, 1_000, 500_000, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                      "5-LOW"], n),
    })


def documents(rng):
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(DOCUMENTS - NEAR_DUPS - EXACT_DUPS)]
    # copies draw from every document made so far, so a few near-dups are
    # near-dups of near-dups, as in the measured table
    for _ in range(NEAR_DUPS):
        texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
    for _ in range(EXACT_DUPS):
        texts.append(texts[int(rng.integers(0, len(texts)))])
    texts = [texts[i] for i in rng.permutation(len(texts))]
    ids = np.arange(DOCUMENTS, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), DOCUMENTS, p=LANG_P)]),
        "source": pa.array([f"src{i % SOURCES}" for i in ids]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng):
    v = rng.standard_normal((EMBEDDINGS, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, EMBEDDINGS * DIM + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, LABELS, EMBEDDINGS).astype(np.int32),
    })


TABLES = {"lineitem": lineitem, "orders": orders,
          "documents": documents, "embeddings": embeddings}


def generate(out_dir):
    """Write every table under out_dir as <name>.parquet, each from its own
    stream of DATA_SEED."""
    os.makedirs(out_dir, exist_ok=True)
    for k, (name, make) in enumerate(sorted(TABLES.items())):
        rng = np.random.default_rng([DATA_SEED, k])
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", row_group_size=1 << 20)
