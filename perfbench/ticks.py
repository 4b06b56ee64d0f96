"""Seeded synthetic ticks for the ``tickstore`` workload.

The store holds ``N_UIDS`` uids with a skewed (Zipf-shaped) number of rows
per uid and timestamps spread over one month.  The seed decides which uid
gets which row count, every timestamp and value, the append batch and the
read schedule; the multiset of row counts and every size is fixed, so runs
with different seeds do the same amount of work.

Expectations for every read and for ``list_uids`` are computed here, in
pandas, from the same generated frames the store is given.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

N_UIDS = 120
BASE_ROWS = 60_000
ZIPF_S = 0.9
APPEND_TOUCHED = 12  # existing uids that receive more rows
APPEND_NEW = 4  # uids first seen in the append batch
APPEND_ROWS_PER_UID = 200
MONTH_START = pd.Timestamp("2024-03-01")
MONTH_US = 31 * 24 * 3600 * 1_000_000
READ_DAYS = (2, 5)  # a read covers this many days, inclusive range
VALUE_COLS = ("price", "size", "side")


@dataclass(frozen=True)
class Read:
    uid: str
    start: pd.Timestamp
    end: pd.Timestamp
    columns: tuple[str, ...]


@dataclass
class Ticks:
    base: pd.DataFrame
    append: pd.DataFrame
    reads: list[Read]

    @property
    def all(self) -> pd.DataFrame:
        return pd.concat([self.base, self.append], ignore_index=True)


def row_counts(n_uids: int = N_UIDS, total: int = BASE_ROWS) -> np.ndarray:
    """Fixed skewed row counts (largest first) summing to ``total``."""
    w = 1.0 / np.arange(1, n_uids + 1) ** ZIPF_S
    counts = np.maximum(1, np.floor(total * w / w.sum())).astype(np.int64)
    counts[0] += total - counts.sum()
    return counts


def _frame(rng: np.random.Generator, uids: np.ndarray, counts: np.ndarray) -> pd.DataFrame:
    n = int(counts.sum())
    ts_us = rng.integers(0, MONTH_US, size=n)
    return pd.DataFrame(
        {
            "uid": np.repeat(uids, counts),
            "ts": MONTH_START + pd.to_timedelta(ts_us, unit="us"),
            "price": np.round(rng.lognormal(4.0, 0.5, size=n), 4),
            "size": rng.integers(1, 10_000, size=n, dtype=np.int64),
            "side": rng.choice(np.array(["B", "S"]), size=n),
        }
    )


def make_ticks(seed: int, n_reads: int) -> Ticks:
    rng = np.random.default_rng(seed)
    uids = np.array([f"u{i:05d}" for i in range(N_UIDS)])
    base = _frame(rng, uids, rng.permutation(row_counts()))
    touched = rng.choice(uids, size=APPEND_TOUCHED, replace=False)
    new = np.array([f"u{N_UIDS + i:05d}" for i in range(APPEND_NEW)])
    app_uids = np.concatenate([touched, new])
    append = _frame(rng, app_uids, np.full(len(app_uids), APPEND_ROWS_PER_UID))
    all_uids = np.concatenate([uids, new])
    reads = []
    for _ in range(n_reads):
        days = int(rng.integers(READ_DAYS[0], READ_DAYS[1] + 1))
        start = MONTH_START + pd.Timedelta(days=int(rng.integers(0, 31 - days)))
        k = int(rng.integers(1, len(VALUE_COLS) + 1))
        cols = tuple(sorted(rng.choice(VALUE_COLS, size=k, replace=False)))
        reads.append(
            Read(str(rng.choice(all_uids)), start, start + pd.Timedelta(days=days), cols)
        )
    return Ticks(base, append, reads)


def raw_bytes(df: pd.DataFrame) -> int:
    """Bytes of the generated data in its plain form: 8 per numeric or
    timestamp cell, the UTF-8 length of every string cell."""
    total = 0
    for c in df.columns:
        if df[c].dtype == object:
            total += int(df[c].str.len().sum())
        else:
            total += 8 * len(df)
    return total


def fingerprint(df: pd.DataFrame) -> tuple[int, int]:
    """(rows, order-free hash) of a frame: the uint64 sum of per-row hashes,
    so duplicate rows count and row order does not."""
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    return len(df), int(h.sum(dtype=np.uint64))


def expected_read(ticks: pd.DataFrame, r: Read) -> pd.DataFrame:
    m = (ticks["uid"] == r.uid) & (ticks["ts"] >= r.start) & (ticks["ts"] <= r.end)
    return ticks.loc[m, ["uid", "ts", *r.columns]]


def expected_uids(ticks: pd.DataFrame) -> pd.DataFrame:
    g = ticks.groupby("uid")["ts"]
    return (
        pd.DataFrame({"n_rows": g.size(), "start": g.min(), "end": g.max()})
        .reset_index()
        .sort_values("uid", ignore_index=True)
    )
