"""Seeded input generators for the three benchmark workloads.

Everything the program under test reads is written here from a seed, so
the benchmark never depends on files outside its checkout. The same seed
always produces byte-identical files (numpy PCG64 streams, pyarrow
parquet with fixed writer settings).

- ``write_tables``: the ten tables the query registry reads (TPC-H-ish
  star schema plus ``events``, ``documents`` and ``embeddings``), with
  the column types and value distributions of the fixture tables
  documented in TESTDATA.md, at a chosen scale factor.
- ``write_word_files``: the reference engine's word-count stream, words
  drawn uniformly from its 126-word vocabulary (``make_vocab`` of
  ``scripts/bench_reference_workload.py``), one text file per trigger.
- ``write_event_files``: timestamped keyed events for the sliding-window
  stream: Zipf-skewed keys, a fixed share out of order within the
  watermark delay and a fixed share late beyond it, one parquet file per
  trigger.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from bench_reference_workload import make_vocab

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
# stream_window: shares of events out of order within the watermark delay
# and late beyond it, and the Zipf exponent of the keys
_OUT_OF_ORDER, _LATE, _ZIPF_A = 0.10, 0.02, 1.2
_WORDS_PER_LINE = 64
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", use_dictionary=True)


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten registry tables at scale factor ``sf`` and return
    their row counts. Row counts follow the fixture rules: lineitem
    6M x sf, orders 1.5M x sf, events 1M x sf, users customer/10,
    documents and embeddings at least 500."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_li = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, n_cust // 10)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(_PART_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, 8, n_part)]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: 5% are an earlier-or-later document's text plus " dup",
    # the fixture's near-duplicate structure
    vocab = np.array(_DOC_WORDS)
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    dups = rng.choice(n_docs, n_docs // 20, replace=False)
    for d in dups:
        src = int(rng.integers(0, n_docs))
        if src != d:
            texts[d] = texts[src] + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
        "source": np.char.add("src", (np.arange(n_docs) % 20).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    for name in TABLES:
        _write(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: tables[name].num_rows for name in TABLES}


def write_word_files(out_dir: str, seed: int, n_files: int, bytes_per_file: int) -> dict[str, int]:
    """Write ``n_files`` text files of uniform vocabulary words, each
    ending at the first word that brings it to ``bytes_per_file`` bytes,
    and return the true per-word counts over all of them."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(make_vocab())
    word_bytes = np.char.str_len(vocab) + 1  # with its separator
    counts = np.zeros(len(vocab), np.int64)
    for i in range(n_files):
        idx = np.empty(0, np.int64)
        while word_bytes[idx].sum() < bytes_per_file:
            idx = np.concatenate([idx, rng.integers(0, len(vocab), 8192)])
        idx = idx[: int(np.searchsorted(np.cumsum(word_bytes[idx]), bytes_per_file)) + 1]
        counts += np.bincount(idx, minlength=len(vocab))
        words = vocab[idx]
        lines = [
            " ".join(words[j : j + _WORDS_PER_LINE])
            for j in range(0, len(words), _WORDS_PER_LINE)
        ]
        with open(os.path.join(out_dir, f"part-{i:04d}.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")
    return {str(w): int(c) for w, c in zip(vocab, counts) if c}


def write_event_files(
    out_dir: str,
    seed: int,
    n_files: int,
    n_events: int,
    n_keys: int,
    step_s: int,
    delay_s: int,
) -> pa.Table:
    """Write ``n_events`` ``(ts, key)`` events as ``n_files`` parquet files
    of equal size (to one event) and return all events as one table with
    a ``batch`` column (the file index).

    File ``i`` covers event time ``[i*step_s, (i+1)*step_s)`` in order;
    10% are moved back by less than ``delay_s`` (still on time), and 2%
    are moved back by 2-4 x ``delay_s`` (behind the watermark once the
    stream has advanced). Keys are Zipf-distributed over ``n_keys``
    distinct values."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    base = np.datetime64("2024-01-01T00:00:00", "us")
    parts = []
    for i in range(n_files):
        events_per_file = n_events // n_files + (i < n_events % n_files)
        off_us = i * step_s * 1_000_000 + np.sort(
            rng.integers(0, step_s * 1_000_000, events_per_file)
        )
        u = rng.random(events_per_file)
        back = np.zeros(events_per_file, np.int64)
        ooo = u < _OUT_OF_ORDER
        back[ooo] = rng.integers(0, delay_s * 1_000_000, int(ooo.sum()))
        lt = u > 1.0 - _LATE
        back[lt] = rng.integers(2 * delay_s * 1_000_000, 4 * delay_s * 1_000_000, int(lt.sum()))
        off_us = np.maximum(off_us - back, 0)
        keys = (rng.zipf(_ZIPF_A, events_per_file) - 1) % n_keys
        t = pa.table({
            "ts": pa.array(base + off_us.astype("timedelta64[us]"), pa.timestamp("us", tz="UTC")),
            "key": np.char.add("k", keys.astype(str)),
        })
        _write(t, os.path.join(out_dir, f"part-{i:04d}.parquet"))
        parts.append(t.append_column("batch", pa.array(np.full(events_per_file, i), pa.int32())))
    return pa.concat_tables(parts)
