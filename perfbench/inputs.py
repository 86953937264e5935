"""Seeded benchmark inputs with their recorded truth.

Everything here is a pure function of the seed: the same seed gives the
same inputs. The program under test only ever sees the written files.

Transactions: a backfill CSV plus delta CSVs. Dirty rows and re-delivered
ids are injected here, not by the program's generator, so the expected
inserted / skipped / rejected counts of every batch are known exactly.
Dates are pinned to ``END_DATE`` (never ``date.today()``), and the
pipeline gets ``MAX_VALID_TS`` so the future-date rule cannot drift.

Library tables: the ten star-schema / events / documents / embeddings
tables the operator registry reads, in the column layout of the repo's
test fixtures, at a small scale factor.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from datetime import date, datetime, timedelta

import numpy as np
import pandas as pd

from local_etl_csv_to_postgresql_spark.sources.generator import (
    generate_transactions,
    write_transactions_csv,
)

END_DATE = date(2026, 6, 30)
MAX_VALID_TS = datetime(2026, 6, 30, 23, 59, 59)
DELTA_WINDOW_DAYS = 30
REDELIVERED_SHARE = 0.20
DIRTY_SHARE = 0.02
NEW_MERCHANT_SHARE = 0.01

# One mutation per rule family; each makes a fresh row fail validation.
# Values are chosen so cleaning (trim + title-case) cannot repair them.
_DIRTY_MUTATIONS = (
    ("amount", "-5.00"),
    ("amount", "20000.00"),
    ("amount", "n/a"),
    ("date", "not-a-date"),
    ("date", (END_DATE + timedelta(days=10)).isoformat()),
    ("date", "2019-12-31"),
    ("category", "Gambling"),
    ("payment_method", "Bitcoin"),
    ("user_id", "abc"),
    ("user_id", ""),
)


@dataclass(frozen=True)
class Batch:
    """One CSV batch and what loading it must report."""

    path: str
    rows: int
    dirty: int  # rows validation must reject
    redelivered: int  # valid rows whose id is already in the warehouse
    bytes: int

    @property
    def inserted(self) -> int:
        return self.rows - self.dirty - self.redelivered


def _inject_dirty(rows: list[dict], rng: random.Random) -> list[dict]:
    """Mutate ``DIRTY_SHARE`` of ``rows`` in place (distinct rows, one
    rule each); returns the rows left clean."""
    n = max(1, round(len(rows) * DIRTY_SHARE))
    picked = rng.sample(range(len(rows)), n)
    for k, i in enumerate(picked):
        col, val = _DIRTY_MUTATIONS[k % len(_DIRTY_MUTATIONS)]
        rows[i][col] = val
    dirty = set(picked)
    return [r for i, r in enumerate(rows) if i not in dirty]


def _write(path: str, rows: list[dict]) -> int:
    write_transactions_csv(path, rows)
    return os.path.getsize(path)


def make_transaction_batches(
    out_dir: str,
    seed: int,
    backfill_rows: int,
    delta_rows: int,
    n_deltas: int,
    users: int,
) -> list[Batch]:
    """Write a backfill CSV and ``n_deltas`` delta CSVs under ``out_dir``.

    Each delta is meant to land on a warehouse holding the backfill alone,
    so its expected counts do not depend on which deltas came before.
    Deltas carry dates in the last ``DELTA_WINDOW_DAYS`` days, about
    ``REDELIVERED_SHARE`` rows copied from the backfill (same id, same
    values), about ``DIRTY_SHARE`` dirty rows, new user ids past the
    backfill's range, and a few never-seen merchants."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    batches: list[Batch] = []

    rows = generate_transactions(
        backfill_rows, num_users=users, years_back=2,
        seed=rng.getrandbits(32), end_date=END_DATE,
    )
    loaded = _inject_dirty(rows, rng)  # the backfill's valid rows
    path = os.path.join(out_dir, "backfill.csv")
    batches.append(
        Batch(path, len(rows), len(rows) - len(loaded), 0, _write(path, rows))
    )

    for d in range(n_deltas):
        n_redeliv = round(delta_rows * REDELIVERED_SHARE)
        n_fresh = delta_rows - n_redeliv
        fresh = generate_transactions(
            n_fresh, num_users=users + 50 * (d + 1), years_back=0,
            seed=rng.getrandbits(32), end_date=END_DATE,
        )
        for r in fresh:
            r["date"] = (
                END_DATE - timedelta(days=rng.randrange(DELTA_WINDOW_DAYS))
            ).isoformat()
        for i in rng.sample(range(n_fresh), max(1, round(n_fresh * NEW_MERCHANT_SHARE))):
            fresh[i]["merchant"] = f"Newco {d}-{i} Ltd"
        clean = _inject_dirty(fresh, rng)
        redelivered = [dict(r) for r in rng.sample(loaded, n_redeliv)]
        batch_rows = fresh + redelivered
        rng.shuffle(batch_rows)
        path = os.path.join(out_dir, f"delta{d:02d}.csv")
        batches.append(
            Batch(
                path, len(batch_rows), n_fresh - len(clean), n_redeliv,
                _write(path, batch_rows),
            )
        )
    return batches


# --- operator-library tables -------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a the data row column table key value join group sort filter agg "
    "merge hash scan window stream batch spark query part line order "
    "customer vector big small fast slow dup"
).split()
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _ts(rng: np.random.Generator, start: str, days: int, n: int, unit="D"):
    base = np.datetime64(start, "us")
    if unit == "D":
        off = rng.integers(0, days, n).astype("timedelta64[D]")
    else:
        off = rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")
    return base + off


def make_library_tables(out_dir: str, seed: int, scale: float) -> str:
    """Write the registry's ten tables as ``<out_dir>/<table>.parquet``.
    ``scale`` follows the fixture convention (0.001 = 6,000 lineitem)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_ord = max(100, int(1_500_000 * scale))
    n_li = max(400, int(6_000_000 * scale))
    n_ev = max(200, int(1_000_000 * scale))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype="int32"), "r_name": _REGIONS,
        }),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{a} {b}" for a, b in zip(
                    rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part)
                )
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 200) * 0.1, 2),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": _ts(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": money(900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts(rng, "1995-01-02", 2498, n_li),
        }),
        "events": pd.DataFrame({
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": np.sort(_ts(rng, "2024-01-01", 30, n_ev, unit="us")),
            "user_id": rng.integers(0, 15, n_ev).astype("int64"),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": money(0.01, 330, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
    }
    texts = [
        " ".join(rng.choice(_VOCAB, int(rng.integers(8, 100))))
        for _ in range(500)
    ]
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(500, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, 500),
        "source": [f"src{k}" for k in rng.integers(0, 20, 500)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    vecs = rng.normal(size=(500, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(500, dtype="int64"),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, 500).astype("int32"),
    })
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return out_dir
