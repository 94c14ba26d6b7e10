"""Seeded inputs of the connector workloads.

- `log_rows`: typed rows for the connector workloads, with Zipf-skewed
  keys, a double and a timestamp field.
- `backfill_segments`: a topic committed through the broker one small
  segment at a time, with 2% dirty lines, plus the exact aggregate a
  correct decode must return.
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa

LEVELS = ["DEBUG", "INFO", "WARN", "ERROR"]
LOG_REGIONS = ["eu", "us", "ap", "sa"]
_TS0_US = 1_700_000_000_000_000
DIRTY_FRAC = 0.02


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def zipf_keys(rng, n, n_keys=5000, a=1.2):
    """Key ids with a Zipf head: rank r has weight 1 / r^a."""
    w = 1.0 / np.arange(1, n_keys + 1) ** a
    return rng.choice(n_keys, n, p=w / w.sum())


def log_rows(seed: int, n: int) -> pa.Table:
    """Typed log rows: id, Zipf-skewed key, region (tag), level
    (property), amount (2-decimal double) and event timestamp."""
    rng = np.random.default_rng(seed)
    return pa.table({
        "id": pa.array(np.arange(n), pa.int64()),
        "k": pa.array([f"key{k}" for k in zipf_keys(rng, n)], pa.string()),
        "region": _choice(rng, LOG_REGIONS, n),
        "level": _choice(rng, LEVELS, n, [0.1, 0.6, 0.2, 0.1]),
        "amount": np.round(rng.uniform(0, 1000, n), 2),
        "ts": pa.array(_TS0_US + np.sort(rng.integers(0, 3_600_000_000, n)),
                       pa.timestamp("us")),
    })


def queue_histogram(keys, num_queues: int) -> list[int]:
    """Expected per-queue counts under the sink's crc32(keys) routing."""
    hist = [0] * num_queues
    for k, c in zip(*np.unique(np.asarray(keys, dtype=object), return_counts=True)):
        hist[zlib.crc32(str(k).encode("utf-8")) % num_queues] += int(c)
    return hist


def backfill_segments(root: str, topic: str, seed: int, n: int, queues: int,
                      segments_per_queue: int):
    """Commit `n` messages to `topic`, one small segment per commit, as a
    log made by many small sends. Each body is one delimited line
    (id, region, amount, ts_ms); a DIRTY_FRAC share of lines lacks the
    last field. Returns the exact expected aggregate
    {region: (rows, sum(amount) in cents, max(ts_ms))} over clean lines."""
    from rocketmq_flink_spark.sources.broker import SEGMENT_SCHEMA, Broker

    rng = np.random.default_rng(seed)
    region = rng.integers(0, len(LOG_REGIONS), n)
    cents = rng.integers(0, 100_000, n)
    ts_ms = _TS0_US // 1000 + np.sort(rng.integers(0, 3_600_000, n))
    dirty = rng.random(n) < DIRTY_FRAC
    bodies = [
        (f"{i}\x01{LOG_REGIONS[r]}\x01{c // 100}.{c % 100:02d}"
         + ("" if d else f"\x01{t}")).encode()
        for i, r, c, t, d in zip(range(n), region, cents, ts_ms, dirty)
    ]
    expected = {}
    for r, name in enumerate(LOG_REGIONS):
        m = (region == r) & ~dirty
        expected[name] = (int(m.sum()), int(cents[m].sum()), int(ts_ms[m].max()))

    broker = Broker(root)
    broker.create_topic(topic, queues)
    for q, ids in enumerate(np.array_split(np.arange(n), queues)):
        for seg in np.array_split(ids, segments_per_queue):
            m = len(seg)
            if m == 0:
                continue
            tbl = pa.Table.from_arrays([
                pa.array(np.zeros(m), pa.int64()),
                pa.array(np.full(m, _TS0_US), pa.int64()),
                pa.array(np.zeros(m), pa.int64()),
                pa.array([""] * m),
                pa.array([None] * m, pa.string()),
                pa.array(["log"] * m),
                pa.array([[]] * m, pa.map_(pa.string(), pa.string())),
                pa.array([bodies[i] for i in seg], pa.binary()),
            ], schema=SEGMENT_SCHEMA)
            broker.commit_tmp(topic, [(q, broker.write_tmp(topic, tbl))],
                              store_ts_us=_TS0_US)
    return expected
