"""Seeded input generators and the in-process reference replays.

Everything the engine reads is written here with pyarrow and lands in its
source directory by an atomic rename, so a half-written file is never
listed. The same seed gives the same rows; only the wall-clock instant a
paced file lands varies between runs.
"""

from __future__ import annotations

import collections
import itertools
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: event-time origin of every generated row (2021-01-01T00:00:00Z)
BASE_US = 1_609_459_200_000_000

FRAUD_SCHEMA = "account_id bigint, ts timestamp, amount double"
_FRAUD_ARROW = pa.schema(
    [
        ("account_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("amount", pa.float64()),
    ]
)

_LEVEL = pa.struct([("price", pa.int64()), ("size", pa.int64())])
_CEP_ARROW = pa.schema(
    [
        ("code", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("ts_us", pa.int64()),
        ("source", pa.string()),
        ("price", pa.float64()),
        ("volume", pa.float64()),
        ("total_ask", pa.int64()),
        ("total_bid", pa.int64()),
        ("levels", pa.list_(_LEVEL)),
        ("signal_id", pa.string()),
        ("status", pa.string()),
        ("reason", pa.string()),
        ("entry_price", pa.float64()),
    ]
)


def land(table: pa.Table, src_dir: str, name: str) -> None:
    """Write ``table`` beside ``src_dir`` and rename it in atomically."""
    staging = src_dir.rstrip("/") + ".staging"
    os.makedirs(staging, exist_ok=True)
    os.makedirs(src_dir, exist_ok=True)
    tmp = os.path.join(staging, name)
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(src_dir, name))


# --- fraud_paced ----------------------------------------------------------


FRAUD_ACCOUNTS = 500


class FraudEvents:
    """A fixed-rate transaction stream: ``rate`` events/s over
    FRAUD_ACCOUNTS accounts, one event per distinct millisecond. About 15%
    of amounts are small (<= 1.00), 15% large (>= 500.00), the rest
    mid-size."""

    def __init__(self, seed: int, seconds: int, rate: int):
        rng = np.random.default_rng([seed, 1])
        n = seconds * rate
        self.rate = rate
        offset_ms = np.arange(n, dtype=np.int64) * (1000 // rate)
        self.account_id = rng.integers(0, FRAUD_ACCOUNTS, n, dtype=np.int64)
        kind = rng.random(n)
        amount = rng.uniform(1.01, 499.99, n)
        amount = np.where(kind < 0.15, rng.uniform(0.01, 1.00, n), amount)
        amount = np.where(kind > 0.85, rng.uniform(500.0, 5000.0, n), amount)
        self.amount = np.round(amount, 2)
        self.ts_us = BASE_US + offset_ms * 1000

    def second(self, s: int) -> pa.Table:
        lo, hi = s * self.rate, (s + 1) * self.rate
        return pa.table(
            [self.account_id[lo:hi], self.ts_us[lo:hi], self.amount[lo:hi]],
            schema=_FRAUD_ARROW,
        )


def expected_alerts(ev: FraudEvents, n_events: int) -> collections.Counter:
    """Alerts of the first ``n_events`` events, replayed per key in event
    time through the framework-free FraudMachine."""
    from apache_flink_pratices_spark.domain.rules import FraudMachine

    machines: dict[int, FraudMachine] = {}
    out = collections.Counter()
    for acc, ts_us, amt in zip(
        ev.account_id[:n_events].tolist(),
        ev.ts_us[:n_events].tolist(),
        ev.amount[:n_events].tolist(),
    ):
        m = machines.get(acc)
        if m is None:
            m = machines[acc] = FraudMachine(None, None, [])
        m.on_event(ts_us // 1000, ts_us, amt)
        for alert_ts, alert_amt in m.alerts:
            out[(acc, alert_ts, alert_amt)] += 1
        m.alerts.clear()
    return out


class PacedWriter(threading.Thread):
    """Lands seconds ``first`` to ``end - 1`` of ``events``, second ``s`` as
    one file at ``t0 + s + 1``, the instant its last event was due; never
    slows down when the engine does. ``lateness`` holds, per file, how far
    the rename trailed its due time."""

    def __init__(self, events: FraudEvents, src_dir: str, t0: float, first: int, end: int, tracer):
        super().__init__(daemon=True)
        self.events, self.src_dir, self.t0 = events, src_dir, t0
        self.first, self.end = first, end
        self.tracer = tracer
        self.lateness: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for s in range(self.first, self.end):
                due = self.t0 + s + 1
                time.sleep(max(0.0, due - time.time()))
                start = time.time()
                land(self.events.second(s), self.src_dir, f"tick-{s:05d}.parquet")
                end = time.time()
                self.lateness.append(end - due)
                self.tracer.span("generator.tick", start, end, trace=f"tick-{s}")
        except BaseException as e:  # surfaced by the caller after join()
            self.error = e


# --- cep_replay -----------------------------------------------------------

CEP_MARKETS = 16
CEP_SECONDS = 900
CEP_FILE_SECONDS = 60
CEP_EPISODES = 5


def cep_rows(seed: int) -> list[tuple]:
    """Rows ``(code, ts_us, source, price, volume, total_ask, total_bid,
    levels)`` of the market feed: per market 2 books/s and 1 trade/s,
    plus seeded spoof episodes (density drop and a vanishing ask wall, which
    arm and fire a watch and BUY) each followed by a falling-volume,
    ask-heavy phase that SELLs. Sorted by event time."""
    rng = np.random.default_rng([seed, 2])
    stable = [{"price": 100 + i, "size": 100} for i in range(10)]
    thin = [{"price": 100 + i, "size": 30} for i in range(10)]
    half = [{"price": 100 + i, "size": 60} for i in range(10)]
    rows: list[tuple] = []

    def book(code, sec, ask, bid, levels):
        us = BASE_US + int(round(sec * 1e6))
        rows.append((code, us, "orderbook", None, None, int(ask), int(bid), levels))

    def trade(code, sec, price, vol):
        us = BASE_US + int(round(sec * 1e6))
        rows.append((code, us, "trade", float(price), float(vol), None, None, None))

    n_files = CEP_SECONDS // CEP_FILE_SECONDS
    for c in range(CEP_MARKETS):
        code = f"KRW-M{c:02d}"
        price = float(rng.integers(10_000, 100_000))
        # one episode per stratum of the feed, so that where signals fall
        # (and so the latency percentiles of a replay) barely depends on the seed
        stride = (n_files - 3) // CEP_EPISODES
        minutes = [2 + k * stride + c % stride for k in range(CEP_EPISODES)]
        episodes = {m * CEP_FILE_SECONDS + int(rng.integers(5, 25)) for m in minutes}
        asks = rng.integers(960, 1041, 2 * CEP_SECONDS)
        bids = rng.integers(960, 1041, 2 * CEP_SECONDS)
        vols = np.round(rng.uniform(4.0, 6.0, CEP_SECONDS), 3)
        ticks = np.round(rng.normal(0.0, 5.0, CEP_SECONDS), 1)
        sell_vols = {}
        for e in episodes:
            sell_vols.update({e + 20: 20.0, e + 21: 1.0, e + 22: 1.0})
        for s in range(CEP_SECONDS):
            if any(e <= s < e + 4 for e in episodes):
                continue
            sell_book = any(s == e + 22 for e in episodes)
            book(code, s, asks[2 * s], bids[2 * s], stable)
            trade(code, s + 0.25, price + ticks[s], sell_vols.get(s, vols[s]))
            if sell_book:
                book(code, s + 0.5, 900, 300, stable)
            else:
                book(code, s + 0.5, asks[2 * s + 1], bids[2 * s + 1], stable)
        for e in episodes:
            book(code, e, 600, 1000, thin + [{"price": 999, "size": 300}])
            book(code, e + 1, 600, 1000, half)
            book(code, e + 2.2, 600, 1000, half)
            trade(code, e + 3, price, 5.0)
    rows.sort(key=lambda r: (r[1], r[0]))
    return rows


def write_cep_backlog(rows: list[tuple], src_dir: str) -> None:
    """One file per minute of feed, landed in time order."""
    span_us = CEP_FILE_SECONDS * 1_000_000
    for k, group in itertools.groupby(rows, key=lambda r: (r[1] - BASE_US) // span_us):
        land(_cep_table(list(group)), src_dir, f"feed-{k:03d}.parquet")


def _cep_table(rows: list[tuple]) -> pa.Table:
    code, ts_us, source, price, volume, ask, bid, levels = (list(c) for c in zip(*rows))
    n = len(rows)
    nulls = pa.nulls(n, pa.string())
    return pa.table(
        [
            code, pa.array(ts_us, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            ts_us, source, price, volume, ask, bid, levels,
            nulls, nulls, nulls, pa.nulls(n, pa.float64()),
        ],
        schema=_CEP_ARROW,
    )


CepRow = collections.namedtuple(
    "CepRow", "code ts_us source price volume total_ask total_bid levels signal_id status reason entry_price"
)


def cep_machine_rows(rows: list[tuple]) -> list[CepRow]:
    return [CepRow(*r, None, None, None, None) for r in rows]


def expected_signals(rows: list[CepRow]) -> collections.Counter:
    """Signal ids of the feed replayed per market through SignalMachine."""
    from apache_flink_pratices_spark.streaming.signal_generator import SignalMachine

    machines: dict[str, SignalMachine] = {}
    for r in rows:
        m = machines.get(r.code)
        if m is None:
            m = machines[r.code] = SignalMachine(r.code)
        m.process_row(r)
    return collections.Counter(s[4] for m in machines.values() for s in m.signals)
