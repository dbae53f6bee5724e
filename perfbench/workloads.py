"""The two workloads. Each drives the package only through its public
functions, on a session from ``session.get_spark``, and returns its
end-to-end metrics, its per-layer metrics (traced runs only), its
operation counts and its box context.

- ``fraud_paced``: open loop. One generator thread lands a fixed 500
  events/s over 500 accounts as one parquet file per second; the
  small-then-large fraud rule reads them with the default trigger.
  Per-batch fixed costs carry the time.
- ``cep_replay``: closed loop. A pre-written 15-minute feed of 16 markets
  (42,560 rows in 15 files) is replayed through the CEP signal generator
  three files per trigger, again and again until the run's time is up.
  Per-row work in the state operator carries the time.
"""

from __future__ import annotations

import collections
import dataclasses
import os
import statistics
import time

import inputs
import procs
from spans import Tracer, engine_layers, epoch, p50, progress_of, stage_layers

FRAUD_RATE = 500
FRAUD_PRIMED_S = 1  # stream seconds landed and processed before pacing starts
FRAUD_WARMUP_S = 5  # paced, untimed stream seconds before the window opens
FRAUD_TAIL_S = 1  # stream seconds after it closes
MAX_LATENESS_S = 0.5  # a generator later than this fails the run
CEP_FILES_PER_TRIGGER = 3
CEP_PREFIX_FILES = 6  # the single-thread baseline's input


class Collector:
    """``foreachBatch`` sink: collects each batch's rows into this process
    and stamps the instant it holds them."""

    def __init__(self, tracer: Tracer, label: str = "") -> None:
        self.tracer, self.label = tracer, label
        self.rows: list[tuple] = []  # (row, stamp)
        self.callback_s: list[float] = []

    def __call__(self, df, batch_id: int) -> None:
        start = time.time()
        got = df.collect()
        now = time.time()
        self.rows.extend((r, now) for r in got)
        self.callback_s.append(now - start)
        self.tracer.span("sink.callback", start, now, trace=f"{self.label}batch-{batch_id}")


def _session(tracer: Tracer, master: str | None = None):
    from apache_flink_pratices_spark.session import get_spark

    with tracer.timed("session.get_spark"):
        t = time.perf_counter()
        spark = get_spark("perfbench", master)
    return spark, (time.perf_counter() - t) * 1e3


def _start(df, ckpt: str, sink: Collector):
    return df.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt).start()


def _percentiles(values_ms: list[float]) -> tuple[float, float]:
    return statistics.median(values_ms), statistics.quantiles(values_ms, n=100, method="inclusive")[98]


def _diff(expected: collections.Counter, got: collections.Counter) -> int:
    """Missing plus extra outputs."""
    return sum((expected - got).values()) + sum((got - expected).values())


def _serde_ms(progress: list[dict], machine_us: float) -> float:
    """Per data batch: state-operator update time not spent in the machine
    (pandas/Arrow conversion, state (de)serialisation, worker round trips)."""
    return p50([
        p["stateOperators"][0].get("allUpdatesTimeMs", 0) - p["numInputRows"] * machine_us / 1e3
        for p in progress if p.get("stateOperators") and p.get("numInputRows", 0) > 0
    ])


# --- fraud_paced ------------------------------------------------------------


def fraud_paced(seed: int, seconds: int, tracer: Tracer, work: str) -> dict:
    t = time.time()
    total_s = FRAUD_PRIMED_S + FRAUD_WARMUP_S + seconds + FRAUD_TAIL_S
    events = inputs.FraudEvents(seed, total_s, FRAUD_RATE)
    gen_s = time.time() - t

    spark, session_ms = _session(tracer)
    from apache_flink_pratices_spark.streaming.fraud import fraud_alert_stream

    src = os.path.join(work, "fraud_in")
    os.makedirs(src)
    sink = Collector(tracer)
    with tracer.timed("query.start"):
        q = _start(
            fraud_alert_stream(spark.readStream.schema(inputs.FRAUD_SCHEMA).parquet(src)),
            os.path.join(work, "fraud_ckpt"), sink,
        )
    # the cold first batch (workers, JIT) runs before pacing, so it leaves
    # no backlog behind
    for s in range(FRAUD_PRIMED_S):
        inputs.land(events.second(s), src, f"tick-{s:05d}.parquet")
    q.processAllAvailable()
    # stream second s is due over [t0 + s, t0 + s + 1) and lands at its end
    t0 = time.time() + 0.2 - FRAUD_PRIMED_S
    writer = inputs.PacedWriter(events, src, t0, FRAUD_PRIMED_S, total_s, tracer)
    writer.start()
    w0 = t0 + FRAUD_PRIMED_S + FRAUD_WARMUP_S
    w1 = w0 + seconds
    time.sleep(max(0.0, w0 - time.time()))
    cpu0 = procs.tree_cpu_s()
    time.sleep(max(0.0, w1 - time.time()))
    cpu1 = procs.tree_cpu_s()
    writer.join()
    if writer.error is not None:
        raise writer.error
    q.processAllAvailable()
    progress = progress_of(q)
    q.stop()

    # correctness, outside the window: the alerts of every landed event
    written = (FRAUD_PRIMED_S + len(writer.lateness)) * FRAUD_RATE
    t = time.perf_counter()
    expected = inputs.expected_alerts(events, written)
    fraud_us = (time.perf_counter() - t) * 1e6 / written
    got = collections.Counter((r.account_id, r.alert_ts_us, r.amount) for r, _ in sink.rows)
    late_s = max(writer.lateness)
    attempted = sum(expected.values()) + 1  # the schedule is one operation too
    failed = _diff(expected, got) + (late_s > MAX_LATENESS_S)

    # per alert: scheduled creation of its large transaction -> sink stamp
    lo_us = inputs.BASE_US + (FRAUD_PRIMED_S + FRAUD_WARMUP_S) * 1_000_000
    hi_us = lo_us + seconds * 1_000_000
    lat_ms = [
        (stamp - t0 - (r.alert_ts_us - inputs.BASE_US) / 1e6) * 1e3
        for r, stamp in sink.rows if lo_us <= r.alert_ts_us < hi_us
    ]
    lat_p50, lat_p99 = _percentiles(lat_ms)
    metrics = {
        "setup_s": w0 - procs.process_start_epoch() - gen_s,
        "latency_p50_ms": lat_p50,
        "latency_p99_ms": lat_p99,
        "cpu_ms_per_1k_events": (cpu1 - cpu0) * 1e6 / (seconds * FRAUD_RATE),
    }
    window = [p for p in progress if w0 <= epoch(p["timestamp"]) < w1]
    context = {
        "alerts_in_window": len(lat_ms),
        "batch_ms_in_window": [p["durationMs"]["triggerExecution"] for p in window],
        "generator_max_lateness_ms": round(late_s * 1e3, 1),
    }
    layers = {}
    if tracer.enabled:
        tracer.add_batches(progress)
        layers = {
            "session.start_ms": session_ms,
            **engine_layers(window),
            **stage_layers(spark, w0, w1, len(window)),
            "domain.rules.fraud_us_per_event": fraud_us,
            "state_op.serde_ms": _serde_ms(window, fraud_us),
            "trace.latency_p50_ms": lat_p50,
        }
        rows = inputs.cep_rows(seed)
        t = time.perf_counter()
        inputs.expected_signals(inputs.cep_machine_rows(rows))
        layers["streaming.signal_generator.machine_us_per_row"] = (
            (time.perf_counter() - t) * 1e6 / len(rows)
        )
        layers.update(_after_window(spark, work, tracer, rows))
    return {"metrics": metrics, "layers": layers, "attempted": attempted,
            "failed": int(failed), "context": context}


# --- cep_replay -------------------------------------------------------------


@dataclasses.dataclass
class Replay:
    start: float
    end: float  # processAllAvailable() returned, before stop()
    sink: Collector
    progress: list[dict]


def _replay(spark, src: str, ckpt: str, tracer: Tracer, label: str, parent=None) -> Replay:
    """One fresh query over ``src``, run until it has read every file."""
    from apache_flink_pratices_spark.streaming.signal_generator import (
        UNIFIED_SCHEMA, signal_stream,
    )

    sink = Collector(tracer, label)
    df = spark.readStream.schema(UNIFIED_SCHEMA).option(
        "maxFilesPerTrigger", CEP_FILES_PER_TRIGGER
    ).parquet(src)
    start = time.time()
    q = _start(signal_stream(df), ckpt, sink)
    q.processAllAvailable()
    end = time.time()
    progress = progress_of(q)
    q.stop()
    sid = tracer.span("cep.replay", start, end, parent, trace=label)
    tracer.add_batches(progress, sid, label)
    return Replay(start, end, sink, progress)


def _cep_prefix(rows: list[tuple], work: str) -> tuple[str, list[tuple]]:
    """The feed's first CEP_PREFIX_FILES minutes, as a source of their own."""
    end_us = inputs.BASE_US + CEP_PREFIX_FILES * inputs.CEP_FILE_SECONDS * 1_000_000
    prefix = [r for r in rows if r[1] < end_us]
    src = os.path.join(work, "cep_prefix")
    inputs.write_cep_backlog(prefix, src)
    return src, prefix


def cep_replay(seed: int, seconds: int, tracer: Tracer, work: str) -> dict:
    t = time.time()
    rows = inputs.cep_rows(seed)
    src = os.path.join(work, "cep_in")
    inputs.write_cep_backlog(rows, src)
    gen_s = time.time() - t

    spark, session_ms = _session(tracer)
    _replay(spark, src, os.path.join(work, "ckpt-warm"), tracer, "warm-")
    w0 = time.time()
    cpu0 = procs.tree_cpu_s()
    replays: list[Replay] = []
    while not replays or time.time() - w0 < seconds:
        k = len(replays)
        replays.append(_replay(spark, src, os.path.join(work, f"ckpt-{k}"), tracer, f"replay{k}-"))
    cpu1 = procs.tree_cpu_s()
    w1 = time.time()

    # correctness, outside the window: every replay emits every signal once
    t = time.perf_counter()
    expected = inputs.expected_signals(inputs.cep_machine_rows(rows))
    machine_us = (time.perf_counter() - t) * 1e6 / len(rows)
    attempted = failed = 0
    lat_ms: list[float] = []
    for r in replays:
        attempted += sum(expected.values())
        failed += _diff(expected, collections.Counter(row.signal_id for row, _ in r.sink.rows))
        # per signal: the backlog was readable from query start
        lat_ms += [(stamp - r.start) * 1e3 for _, stamp in r.sink.rows]
    lat_p50, lat_p99 = _percentiles(lat_ms)
    metrics = {
        "setup_s": w0 - procs.process_start_epoch() - gen_s,
        "latency_p50_ms": lat_p50,
        "latency_p99_ms": lat_p99,
        "cpu_ms_per_1k_events": (cpu1 - cpu0) * 1e6 / (len(rows) * len(replays)),
    }
    context = {
        "replays": len(replays),
        "events_per_s": [round(len(rows) / (r.end - r.start), 1) for r in replays],
        "signals_per_replay": sum(expected.values()),
    }
    layers = {}
    if tracer.enabled:
        progress = [p for r in replays for p in r.progress]
        data_batches = sum(1 for p in progress if p.get("numInputRows", 0) > 0)
        layers = {
            "session.start_ms": session_ms,
            **engine_layers(progress),
            "engine.batches": len(progress) / len(replays),
            **stage_layers(spark, w0, w1, data_batches),
            "streaming.signal_generator.machine_us_per_row": machine_us,
            "state_op.serde_ms": _serde_ms(progress, machine_us),
            "trace.latency_p50_ms": lat_p50,
        }
        ev = inputs.FraudEvents(seed, 60, FRAUD_RATE)
        t = time.perf_counter()
        inputs.expected_alerts(ev, len(ev.ts_us))
        layers["domain.rules.fraud_us_per_event"] = (time.perf_counter() - t) * 1e6 / len(ev.ts_us)
        layers.update(_after_window(spark, work, tracer, rows))
    return {"metrics": metrics, "layers": layers, "attempted": attempted,
            "failed": int(failed), "context": context}


# --- measured after the window, in every traced run -------------------------


def _after_window(spark, work: str, tracer: Tracer, rows: list[tuple]) -> dict:
    """The market_proto codec's cost per trade message of this seed's feed
    prefix, and the single-thread baseline: the prefix replayed warm at
    local[N], then at local[1] in a new context on the same JVM."""
    from apache_flink_pratices_spark.serialization.market_proto import (
        decode_trade, encode_trade, us_to_ts,
    )

    prefix_src, prefix_rows = _cep_prefix(rows, work)

    trades = [
        {"exchange": 1, "code": r[0], "trade_price": r[3], "trade_volume": r[4],
         "ask_bid": 1 + (i & 1), "prev_closing_price": r[3], "change": 2,
         "change_price": 0.0, "trade_timestamp": us_to_ts(r[1]), "sequential_id": i,
         "stream_type": 2, "received_timestamp": us_to_ts(r[1] + 1000)}
        for i, r in enumerate(prefix_rows) if r[2] == "trade"
    ]
    t = time.perf_counter()
    for msg in trades:
        if decode_trade(encode_trade(msg)) != msg:
            raise RuntimeError("market_proto round trip changed a trade message")
    out = {"serialization.market_proto.roundtrip_us": (time.perf_counter() - t) * 1e6 / len(trades)}

    rates = {}
    for tag, master in (("localN", None), ("local1", "local[1]")):
        if master is not None:
            spark.stop()
            spark, _ = _session(tracer, master)
        with tracer.timed(f"baseline.{tag}") as sid:
            for k in range(2):  # the second, warm replay is the one kept
                r = _replay(spark, prefix_src, os.path.join(work, f"base-{tag}-{k}"),
                            tracer, f"{tag}-{k}-", sid)
        rates[tag] = len(prefix_rows) / (r.end - r.start)
    out["baseline.localN_events_per_s"] = rates["localN"]
    out["baseline.local1_events_per_s"] = rates["local1"]
    out["baseline.speedup"] = rates["localN"] / rates["local1"]
    out["trace.cost_ms"] = tracer.cost_s * 1e3
    out["trace.spans"] = float(len(tracer.spans))
    return out


WORKLOADS = {"fraud_paced": fraud_paced, "cep_replay": cep_replay}
