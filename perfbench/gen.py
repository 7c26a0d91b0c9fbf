"""Seeded input generation. The same seed gives the same tables, deltas,
lookup keys, read mix and stream slices; the engine only ever sees the
frames and paths built from these.

Table sizes are fixed; the seed moves keys and values, not volume, so
runs with different seeds measure the same work. The sizes are a
fifth to a fifteenth of sf0.1 so that set-up, warm-up and one measured
round fit a run of about 40 s on a 4-core host (see README.md).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

N_ORDERS = 30_000
N_CUSTOMERS = 3_000
N_NATIONS = 25
N_LINEITEM = 40_000
LINEITEM_YEARS = list(range(1992, 1998))
# one generation per bucket, so the catalog answers them from metadata:
# 1995-96 are never churned, 1997 is churned and then compacted
BASE_ONLY_YEARS = (1995, 1996)
COMPACTED_YEARS = (1997,)
PROVABLE_YEARS = BASE_ONLY_YEARS + COMPACTED_YEARS
N_EVENTS = 16_000
N_USERS = 2_000
EVENT_SPAN_US = 12 * 3600 * 1_000_000
GAP_MS = 30 * 60 * 1000

_WORDS = np.array(["quick", "brown", "fox", "lazy", "dog", "final",
                   "pending", "ironic", "silent", "bold", "express",
                   "regular", "careful", "furious", "even", "special"])


def rng(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per input stream, so adding draws to one
    stream never shifts another."""
    return np.random.default_rng([seed, stream])


def comments(r: np.random.Generator, n: int) -> np.ndarray:
    w = _WORDS[r.integers(0, len(_WORDS), size=(n, 4))]
    return np.array([" ".join(x) for x in w], dtype=object)


# ------------------------------------------------------------- ingest

def customers(seed: int) -> pd.DataFrame:
    r = rng(seed, 1)
    return pd.DataFrame({
        "o_custkey": np.arange(1, N_CUSTOMERS + 1, dtype=np.int64),
        "c_nationkey": r.integers(0, N_NATIONS, N_CUSTOMERS).astype(np.int64),
    })


def order_rows(r: np.random.Generator, keys: np.ndarray) -> pd.DataFrame:
    n = len(keys)
    return pd.DataFrame({
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": r.integers(1, N_CUSTOMERS + 1, n).astype(np.int64),
        "o_status": np.array(["F", "O", "P"], dtype=object)[
            r.integers(0, 3, n)],
        "o_cents": r.integers(100, 50_000_000, n).astype(np.int64),
        "o_comment": comments(r, n),
    })


def orders(seed: int) -> pd.DataFrame:
    return order_rows(rng(seed, 2), np.arange(1, N_ORDERS + 1))


class IngestStream:
    """Endless seeded sequence of write operations against a live key
    set: ``("upsert", frame)`` or ``("delete", key frame)``.

    Upserts are 1,000 rows, except one in every four (at a seeded place)
    of 5,000, so every seed writes the same volume; 80% of their keys
    update live rows, 20% insert new ones. Every third op deletes one
    live key (``delete_matching`` rewrites that key's bucket, so a
    one-key tombstone costs the same on every draw)."""

    DELETE_EVERY = 3
    DELETE_KEYS = 1
    DELTA_ROWS, TAIL_ROWS, TAIL_EVERY = 1000, 5000, 4

    def __init__(self, seed: int, stream: int, live_keys: np.ndarray):
        self.r = rng(seed, stream)
        self.next_key = int(live_keys.max()) + 1
        self.i = 0
        self.upserts = 0

    def next(self, live_keys: np.ndarray):
        r = self.r
        self.i += 1
        if self.i % self.DELETE_EVERY == 0:
            keys = r.choice(live_keys, self.DELETE_KEYS, replace=False)
            return "delete", pd.DataFrame({"o_orderkey": keys.astype(np.int64)})
        if self.upserts % self.TAIL_EVERY == 0:
            self.tail_at = self.upserts + int(r.integers(0, self.TAIL_EVERY))
        n = self.TAIL_ROWS if self.upserts == self.tail_at else self.DELTA_ROWS
        self.upserts += 1
        n_new = n // 5
        old = r.choice(live_keys, n - n_new, replace=False)
        new = np.arange(self.next_key, self.next_key + n_new)
        self.next_key += n_new
        return "upsert", order_rows(r, np.concatenate([old, new]))


# ------------------------------------------------------------ mor_read

def lineitem(seed: int) -> pd.DataFrame:
    r = rng(seed, 4)
    n = N_LINEITEM
    return pd.DataFrame({
        "l_key": np.arange(1, n + 1, dtype=np.int64),
        "l_year": np.array(LINEITEM_YEARS, dtype=np.int32)[
            r.integers(0, len(LINEITEM_YEARS), n)],
        "l_flag": np.array(["A", "N", "R"], dtype=object)[r.integers(0, 3, n)],
        "l_qty": r.integers(1, 51, n).astype(np.int64),
        "l_cents": r.integers(100, 10_000_000, n).astype(np.int64),
        "l_comment": comments(r, n),
    })


def lineitem_churn(seed: int, base: pd.DataFrame, generation: int) -> pd.DataFrame:
    """5% of the table's row count, drawn from the years that are not
    base-only, with new quantity and price: one MOR generation."""
    r = rng(seed, 10 + generation)
    pool = np.flatnonzero(~base["l_year"].isin(BASE_ONLY_YEARS).to_numpy())
    idx = r.choice(pool, len(base) // 20, replace=False)
    out = base.iloc[np.sort(idx)].copy()
    out["l_qty"] = r.integers(1, 51, len(out)).astype(np.int64)
    out["l_cents"] = r.integers(100, 10_000_000, len(out)).astype(np.int64)
    return out.reset_index(drop=True)


# one round of the read mix; its order is shuffled per round by the seed
READ_ROUND = ("scan",) * 2 + ("lookup",) * 12 + ("sql",) * 19


def read_round(r: np.random.Generator) -> list[tuple]:
    """One round of the read mix as (kind, argument) pairs: a lookup key,
    or a (statement, year) pair for SQL. Of each round's nineteen SQL
    statements eighteen are every (statement, single-generation year)
    pair three times, which the catalog answers from metadata, and one
    counts a seeded multi-generation year, which needs a scan (the
    fallback branch). The seed picks the order and that year, not the
    statements, so every round costs the same."""
    sql = [(which, y) for which in (0, 1) for y in PROVABLE_YEARS] * 3 + [
        (0, int(r.choice([y for y in LINEITEM_YEARS
                          if y not in PROVABLE_YEARS])))]
    r.shuffle(sql)
    out = []
    for kind in r.permutation(READ_ROUND):
        if kind == "lookup":
            out.append((kind, int(r.integers(1, N_LINEITEM + 1))))
        elif kind == "sql":
            out.append((kind, sql.pop()))
        else:
            out.append((str(kind), None))
    return out


# -------------------------------------------------------------- stream

def events(seed: int) -> pd.DataFrame:
    """Events in ts order: each user's events spread over twelve hours,
    so sessions (30 min gap) form and close throughout the stream."""
    r = rng(seed, 6)
    n = N_EVENTS
    base_us = 1_700_000_000_000_000
    ts = np.sort(r.integers(0, EVENT_SPAN_US, n)) + base_us
    return pd.DataFrame({
        "user_id": r.integers(0, N_USERS, n).astype(np.int64),
        "event_id": np.arange(1, n + 1, dtype=np.int64),
        "ts_us": ts.astype(np.int64),
    })


def slice_bounds(seed: int, n: int, n_slices: int) -> list[int]:
    """Row offsets cutting ``n`` ts-ordered rows into ``n_slices``
    slices of seeded size (each within 30% of even)."""
    r = rng(seed, 7)
    even = n / n_slices
    cuts = [0]
    for i in range(1, n_slices):
        cuts.append(int(i * even + r.uniform(-0.3, 0.3) * even))
    cuts.append(n)
    return cuts


def sessions(ev: pd.DataFrame, gap_ms: int = GAP_MS) -> pd.DataFrame:
    """Batch gaps-and-islands: one row per (user, session) with start,
    end (epoch us) and event count — the sink's expected contents."""
    ev = ev.sort_values(["user_id", "ts_us", "event_id"])
    gap_us = gap_ms * 1000
    prev = ev.groupby("user_id")["ts_us"].shift()
    new = prev.isna() | ((ev["ts_us"] - prev) > gap_us)
    sid = new.astype(np.int64).groupby(ev["user_id"]).cumsum()
    g = ev.assign(sid=sid).groupby(["user_id", "sid"])["ts_us"]
    out = g.agg(["min", "max", "count"]).reset_index()
    return pd.DataFrame({
        "user_id": out["user_id"].astype(np.int64),
        "start_us": out["min"].astype(np.int64),
        "end_us": out["max"].astype(np.int64),
        "n_events": out["count"].astype(np.int64),
    })
