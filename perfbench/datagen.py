"""Seeded input generation for the benchmark workloads.

Everything is generated from ``--seed`` with numpy and written as one
parquet file per table, the layout ``df_spark.sources.tables`` reads
(``<dir>/<table>.parquet``). Sizes and duplicate shares are fixed, so
every seed asks the engine for the same amount of work; the seed only
changes which rows, words and constants appear.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the word list and shape of the synthetic ``documents`` table the
# engine's dedup and text queries were written against: 30 short
# words, 10-100 words per document, five languages, 20 sources
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20

EXACT_SHARE = 0.05   # documents that are verbatim copies of an earlier one
NEAR_SHARE = 0.10    # documents that are word-edited copies of an earlier one
NEAR_EDIT = 0.06     # share of words replaced in a near copy


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path)


def gen_documents(out_dir: str, seed: int, n_docs: int) -> dict:
    """The ``llm_dedup`` corpus: ``n_docs`` documents with unique
    ``doc_id``s, ``EXACT_SHARE`` exact copies and ``NEAR_SHARE``
    near copies (a few words replaced, one ``dup`` marker inserted) of
    other documents, in the ``documents`` schema.

    Document lengths are a fixed, evenly spread set and copies are
    drawn one per length stratum: with a 30-word vocabulary, how many
    pairs look alike by chance depends mostly on how many long
    documents there are, so fixing the lengths keeps the dedup work of
    every seed about the same."""
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(VOCAB)
    n_exact = int(round(n_docs * EXACT_SHARE))
    n_near = int(round(n_docs * NEAR_SHARE))
    n_copy = n_exact + n_near
    n_fresh = n_docs - n_copy
    lengths = rng.permutation(np.linspace(10, 100, n_fresh).round().astype(int))
    fresh = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lengths]
    by_length = np.argsort(lengths, kind="stable")
    stride = n_fresh / n_copy
    sources = rng.permutation([by_length[int((k + rng.random()) * stride)] for k in range(n_copy)])
    copies = [fresh[src] for src in sources[:n_exact]]
    for src in sources[n_exact:]:
        words = fresh[src].split()
        for pos in rng.choice(len(words), max(1, int(len(words) * NEAR_EDIT)), replace=False):
            words[pos] = vocab[rng.integers(0, len(vocab))]
        words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        copies.append(" ".join(words))
    texts = [(fresh + copies)[i] for i in rng.permutation(n_docs)]
    table = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _write(os.path.join(out_dir, "documents.parquet"), table)
    return {"documents": n_docs, "exact_copies": n_exact, "near_copies": n_near,
            "exact_share": EXACT_SHARE, "near_share": NEAR_SHARE}


PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _dates(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(0, 6 * 365, n)
    base = np.datetime64("1995-01-01")
    return pa.array(np.datetime_as_string(base + days, unit="D"), pa.string())


def gen_orders_lineitem(out_dir: str, seed: int, n_orders: int) -> dict:
    """The ``plan_server`` tables: TPC-H-shaped ``orders`` and
    ``lineitem`` (1-7 lines per order) with string dates, as a wire
    client would ship them."""
    rng = np.random.default_rng([seed, 2])
    okeys = np.arange(n_orders, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(0, max(1, n_orders // 10), n_orders),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders), pa.string()),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _dates(rng, n_orders),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders), pa.string()),
    })
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(rng.uniform(900, 1000, n), 2)
    lineitem = pa.table({
        "l_orderkey": np.repeat(okeys, lines),
        "l_partkey": rng.integers(0, max(1, n_orders // 8), n),
        "l_suppkey": rng.integers(0, max(1, n_orders // 150), n),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int64),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n), pa.string()),
        "l_shipdate": _dates(rng, n),
    })
    _write(os.path.join(out_dir, "orders.parquet"), orders)
    _write(os.path.join(out_dir, "lineitem.parquet"), lineitem)
    return {"orders": n_orders, "lineitem": n}
