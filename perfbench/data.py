"""Seeded input generators for the benchmark.

Two families, both derived only from ``--seed``:

* the dirty transactions CSV of FIXTURES.md §3 (stdlib ``random``, exact
  call order), with a share of exact-repeat lines interleaved from a second
  generator so that ``upsert_by_key`` removes real duplicates, plus the
  ledger of what the pipeline must load;
* the parquet tables of FIXTURES.md §2 (same schemas) that the query
  registry reads, at a chosen scale factor.

Inputs are cached under the benchmark's work directory by seed and size;
generation time is never part of a timed metric.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

HEADER = "transaction_id,user_id,amount,timestamp,status\n"
STATUSES = ["Completed", "PENDING", "cancelled", "Failed", "refunded", "CANCELLED"]


def _dirty_line(rnd: random.Random, i: int) -> str:
    """One FIXTURES.md §3 row; the draw order is the canonical generator's."""
    r = rnd.random()
    tid = f"T{i:08d}" if r <= 0.995 else ""
    uid = f"U{rnd.randint(1, 50000):06d}"
    if r < 0.01:
        amount = "not_a_number"
    elif r < 0.05:
        amount = f"{-rnd.uniform(1, 500):.4f}"
    else:
        amount = f"{rnd.uniform(0.01, 2000):.4f}"
    ts = (
        f"2025-{rnd.randint(1, 12):02d}-{rnd.randint(1, 28):02d}"
        f"T{rnd.randint(0, 23):02d}:00:00"
    )
    return f"{tid},{uid},{amount},{ts},{rnd.choice(STATUSES)}\n"


class Ledger:
    """What ``run_pipeline`` must load from the generated CSV.

    Mirrors the transform's rules on the line text: blank id, malformed or
    negative amount and cancelled status drop; amounts round half-even on
    the scaled double (``round(x * 100)``, the pandas/numpy rule the engine
    bit-matches); an exact repeat of a surviving line is one row.
    """

    def __init__(self) -> None:
        self.lines = 0
        self.rows = 0
        self.status_counts: dict[str, int] = {}
        self.min_cents: int | None = None
        self.max_cents: int | None = None
        self.sum_cents = 0

    def add(self, line: str) -> None:
        tid, _uid, amount, _ts, status = line.rstrip("\n").split(",")
        if not tid or amount == "not_a_number":
            return
        value = float(amount)
        status = status.strip().lower()
        if value < 0 or status == "cancelled":
            return
        cents = round(value * 100)
        self.rows += 1
        self.status_counts[status] = self.status_counts.get(status, 0) + 1
        self.sum_cents += cents
        self.min_cents = cents if self.min_cents is None else min(self.min_cents, cents)
        self.max_cents = cents if self.max_cents is None else max(self.max_cents, cents)

    def as_dict(self) -> dict:
        return {
            "lines": self.lines,
            "rows": self.rows,
            "status_counts": dict(sorted(self.status_counts.items())),
            "min_cents": self.min_cents,
            "max_cents": self.max_cents,
            "sum_cents": self.sum_cents,
        }


def write_dirty_csv(path: str, seed: int, rows: int, repeat_share: float = 0.02) -> dict:
    """Write ``rows`` canonical lines plus about ``repeat_share`` exact
    repeats of recent lines; return the ledger as a dict.

    With ``repeat_share=0`` and seed 42 the file is byte-identical to the
    canonical generator ``tests/test_pipeline.py::_golden_csv``. Repeats
    draw from their own generator, so they never perturb the canonical
    sequence.
    """
    rnd = random.Random(seed)
    rep = random.Random(f"repeats:{seed}")
    ledger = Ledger()
    recent: list[str] = []
    buf: list[str] = [HEADER]
    with open(path, "w") as f:
        for i in range(rows):
            line = _dirty_line(rnd, i)
            buf.append(line)
            ledger.lines += 1
            ledger.add(line)
            if repeat_share:
                recent.append(line)
                if len(recent) > 1000:
                    del recent[:500]
                if rep.random() < repeat_share:
                    buf.append(rep.choice(recent))
                    ledger.lines += 1
            if len(buf) >= 65536:
                f.write("".join(buf))
                buf.clear()
        f.write("".join(buf))
    return ledger.as_dict()


def dirty_csv(work: str, seed: int, rows: int) -> tuple[str, dict]:
    """Cached ``write_dirty_csv``: (csv path, ledger) keyed by seed and size."""
    d = os.path.join(work, "inputs", f"csv_s{seed}_n{rows}")
    path = os.path.join(d, "transactions.csv")
    meta = os.path.join(d, "ledger.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return path, json.load(f)
    os.makedirs(d, exist_ok=True)
    ledger = write_dirty_csv(path, seed, rows)
    with open(meta + ".tmp", "w") as f:
        json.dump(ledger, f)
    os.replace(meta + ".tmp", meta)
    return path, ledger


# --- FIXTURES.md §2 parquet tables ----------------------------------------

_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
_PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_LANGS = ["en", "es", "zh", "de", "fr"]
_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a "
    "the line sort window data column join small customer query order big "
    "group filter stream vector"
).split()


def _tables(seed: int, sf: float) -> dict:
    """Column dicts of the ten FIXTURES.md §2 tables at scale ``sf``."""
    import numpy as np
    import pyarrow as pa

    g = np.random.default_rng(seed)

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    def days(start: dt.date, end: dt.date, n):
        base = np.datetime64(start, "us")
        span = (end - start).days
        return base + g.integers(0, span + 1, n).astype("timedelta64[D]")

    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_doc = int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))
    i32, i64, f32 = pa.int32(), pa.int64(), pa.float32()

    t = {}
    t["region"] = {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    }
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": g.choice(_SEGMENTS, n_cust).tolist(),
    }
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }
    t["part"] = {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(g.choice(_ADJ, n_part), g.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
        "p_type": g.choice(_PTYPES, n_part).tolist(),
        "p_size": pa.array(g.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    }
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": g.choice(["O", "P", "F"], n_ord).tolist(),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": g.choice(_PRIORITIES, n_ord).tolist(),
    }
    t["lineitem"] = {
        "l_orderkey": pa.array(g.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(g.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(g.integers(1, 8, n_line), i32),
        "l_quantity": g.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": g.integers(0, 11, n_line) / 100,
        "l_tax": g.integers(0, 9, n_line) / 100,
        "l_returnflag": g.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": g.choice(["O", "F"], n_line).tolist(),
        "l_shipdate": days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
    }
    # ~30 days of events with exponential gaps, microsecond timestamps
    gaps = g.exponential(30 * 86_400e6 / n_evt, n_evt).astype("int64")
    t["events"] = {
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": pa.array(g.integers(0, n_users, n_evt), i64),
        "event_type": g.choice(_EVENT_TYPES, n_evt).tolist(),
        "value": np.round(g.exponential(40.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_evt)],
    }
    # documents: random word strings; every 50th is an edited copy of an
    # earlier one so the near-duplicate operators have clusters to find
    texts: list[str] = []
    for k in range(n_doc):
        if k >= 50 and k % 50 == 0:
            words = texts[int(g.integers(0, k))].split()
            words[int(g.integers(0, len(words)))] = str(g.choice(_WORDS))
        else:
            words = g.choice(_WORDS, int(g.integers(8, 90))).tolist()
        texts.append(" ".join(words))
    t["documents"] = {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": g.choice(_LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]).tolist(),
        "source": [f"src{k % 20}" for k in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], i64),
    }
    labels = g.integers(0, 10, n_emb)
    centers = g.normal(0, 1, (10, 64))
    vecs = centers[labels] + g.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(f32)),
        "label": pa.array(labels, i32),
    }
    return t


def query_tables(work: str, seed: int, sf: float) -> str:
    """Cached directory of the ten parquet tables for (seed, sf)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(work, "inputs", f"tables_s{seed}_sf{sf}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)
    for name, cols in _tables(seed, sf).items():
        pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))
    open(done, "w").close()
    return d
