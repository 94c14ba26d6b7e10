"""Split planning packs queue offset-ranges into work-sized partitions,
and the encoders emit empty (never null) `props` maps.

Planning tests call the readers directly (no Spark); the encoder tests
write through the sink and read back."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from rocketmq_flink_spark.functions import encode_rows
from rocketmq_flink_spark.functions.codec import encode_simple_key_value
from rocketmq_flink_spark.sources import Broker, register
from rocketmq_flink_spark.sources import datasource as ds
from rocketmq_flink_spark.sources.broker import SEGMENT_SCHEMA
from rocketmq_flink_spark.sources.datasource import (
    RocketMQBatchReader,
    RocketMQStreamReader,
)

MAP = pa.map_(pa.string(), pa.string())


def _append(broker: Broker, topic: str, queue_id: int, n: int, tag: str = "a",
            props=None) -> None:
    """Commit `n` messages to one queue; bodies are `<queue>:<i>`."""
    tbl = pa.Table.from_arrays([
        pa.array([0] * n, pa.int64()),
        pa.array([0] * n, pa.int64()),
        pa.array([0] * n, pa.int64()),
        pa.array([""] * n),
        pa.array([None] * n, pa.string()),
        pa.array([tag] * n),
        pa.array([props or [] for _ in range(n)], MAP),
        pa.array([f"{queue_id}:{i}".encode() for i in range(n)]),
    ], schema=SEGMENT_SCHEMA)
    broker.commit_tmp(topic, [(queue_id, broker.write_tmp(topic, tbl))],
                      store_ts_us=1)


@pytest.fixture()
def small_queues(tmp_path):
    """8 queues of 30..100 messages, each in two segments."""
    root = str(tmp_path)
    broker = Broker(root)
    broker.create_topic("t", 8)
    for q in range(8):
        _append(broker, "t", q, 10 + q)
        _append(broker, "t", q, 20 + 10 * q)
    return root


def _covered(parts) -> dict[int, list[tuple[int, int]]]:
    out: dict[int, list[tuple[int, int]]] = {}
    for p in parts:
        for q, lo, hi in p.ranges:
            out.setdefault(q, []).append((lo, hi))
    return out


def _assert_exact_cover(parts, want: dict[int, tuple[int, int]]) -> None:
    """Every queue's [start, end) is covered exactly once, in offset order."""
    cov = _covered(parts)
    assert set(cov) == {q for q, (s, e) in want.items() if e > s}
    for q, ranges in cov.items():
        start, end = want[q]
        assert ranges[0][0] == start and ranges[-1][1] == end
        assert all(a[1] == b[0] for a, b in zip(ranges, ranges[1:]))
        assert all(lo < hi for lo, hi in ranges)


def test_batch_partitions_pack_small_queues_into_one(small_queues):
    reader = RocketMQBatchReader({"path": small_queues, "topic": "t"})
    parts = reader.partitions()
    assert len(parts) == 1
    broker = Broker(small_queues)
    _assert_exact_cover(parts, {q: (0, broker.latest_offset("t", q)) for q in range(8)})
    rows = sum(b.num_rows for b in reader.read(parts[0]))
    assert rows == sum(broker.latest_offset("t", q) for q in range(8))


def test_stream_partitions_pack_small_queues_into_one(small_queues):
    reader = RocketMQStreamReader({"path": small_queues, "topic": "t"})
    start = reader.initialOffset()
    start = {q: off + 5 for q, off in start.items()}
    end = reader.latestOffset()
    parts = reader.partitions(start, end)
    assert len(parts) == 1
    _assert_exact_cover(parts, {int(q): (start[q], end[q]) for q in end})
    # batches come out in queue order, each queue's offsets ascending
    seen = []
    for b in reader.read(parts[0]):
        q = b.column(1)[0].as_py()
        offs = b.column(2).to_pylist()
        assert offs == list(range(start[str(q)], end[str(q)]))
        seen.append(q)
    assert seen == sorted(seen) == list(range(8))


def test_range_above_max_records_still_splits(small_queues):
    reader = RocketMQBatchReader({"path": small_queues, "topic": "t",
                                  "maxRecordsPerPartition": "25"})
    parts = reader.partitions()
    assert all(sum(hi - lo for _, lo, hi in p.ranges) <= 25 for p in parts)
    broker = Broker(small_queues)
    _assert_exact_cover(parts, {q: (0, broker.latest_offset("t", q)) for q in range(8)})
    # queue 7 holds 107 messages: split into 25-message pieces
    assert [hi - lo for q, lo, hi in (r for p in parts for r in p.ranges) if q == 7] \
        == [25, 25, 25, 25, 7]


def test_range_above_target_keeps_its_own_partition(small_queues, monkeypatch):
    monkeypatch.setattr(ds, "PACK_TARGET", 60)
    parts = RocketMQBatchReader({"path": small_queues, "topic": "t"}).partitions()
    sizes = [[hi - lo for _, lo, hi in p.ranges] for p in parts]
    # queues hold 30, 41, 52, 63, 74, 85, 96, 107 messages
    assert sizes == [[30], [41], [52], [63], [74], [85], [96], [107]]
    monkeypatch.setattr(ds, "PACK_TARGET", 75)
    parts = RocketMQBatchReader({"path": small_queues, "topic": "t"}).partitions()
    assert [[q for q, _, _ in p.ranges] for p in parts] == \
        [[0, 1], [2], [3], [4], [5], [6], [7]]


def test_empty_topic_yields_the_sentinel_partition(tmp_path):
    root = str(tmp_path)
    Broker(root).create_topic("empty", 4)
    reader = RocketMQBatchReader({"path": root, "topic": "empty"})
    parts = reader.partitions()
    assert len(parts) == 1 and parts[0].ranges == []
    assert list(reader.read(parts[0])) == []
    stream = RocketMQStreamReader({"path": root, "topic": "empty"})
    parts = stream.partitions(stream.initialOffset(), stream.latestOffset())
    assert len(parts) == 1 and parts[0].ranges == []
    assert list(stream.read(parts[0])) == []


def test_tag_and_sql92_filters_apply_to_every_range(tmp_path):
    root = str(tmp_path)
    broker = Broker(root)
    for q in range(8):
        _append(broker, "t", q, 6, tag="a", props=[("n", str(q))])
        _append(broker, "t", q, 4, tag="b", props=[("n", str(q))])
    reader = RocketMQBatchReader({"path": root, "topic": "t", "tag": "b"})
    (part,) = reader.partitions()
    batches = list(reader.read(part))
    assert [b.column(1)[0].as_py() for b in batches] == list(range(8))
    assert all(set(b.column(5).to_pylist()) == {"b"} and b.num_rows == 4 for b in batches)

    reader = RocketMQBatchReader({"path": root, "topic": "t", "tag": "a",
                                  "sql": "n >= 3 AND n < 6"})
    (part,) = reader.partitions()
    batches = list(reader.read(part))
    assert [b.column(1)[0].as_py() for b in batches] == [3, 4, 5]
    assert all(set(b.column(5).to_pylist()) == {"a"} and b.num_rows == 6 for b in batches)


def test_max_offsets_per_trigger_cursor_resync(small_queues):
    """The cap applies in latestOffset(); partitions() resyncs the cursor
    to max(start, end), as after a checkpoint restart."""
    reader = RocketMQStreamReader({"path": small_queues, "topic": "t",
                                   "maxOffsetsPerTrigger": "50"})
    first = reader.latestOffset()  # before initialOffset(): seeded from start
    assert first == {"0": 30, "1": 20, **{str(q): 0 for q in range(2, 8)}}
    # a restart resumes from an offset log ahead of the cursor
    ahead = {str(q): 25 for q in range(8)}
    parts = reader.partitions(ahead, first)
    assert reader._cursor == {"0": 30, **{str(q): 25 for q in range(1, 8)}}
    assert _covered(parts) == {0: [(25, 30)]}
    resumed = dict(reader._cursor)
    nxt = reader.latestOffset()
    assert nxt == {"0": 30, "1": 41, "2": 52, "3": 32, **{str(q): 25 for q in range(4, 8)}}
    parts = reader.partitions(resumed, nxt)
    assert len(parts) == 1
    assert _covered(parts) == {1: [(25, 41)], 2: [(25, 52)], 3: [(25, 32)]}


# -- encoders ------------------------------------------------------------------


def _rows(spark):
    return spark.createDataFrame(
        [(1, "eu", "x", 1.5), (2, None, "y", None), (3, "us", None, 2.0)],
        "id INT, region STRING, level STRING, amount DOUBLE",
    ).withColumn("ts", F.timestamp_seconds(F.col("id") + 1_700_000_000))


@pytest.mark.parametrize("options", [
    {},
    {"keyColumns": "id", "tag": "t1"},
    {"isDynamicTag": "true", "dynamicTagColumn": "region"},
    {"isDynamicProperty": "true", "dynamicPropertyColumns": "level"},
])
def test_encode_rows_never_emits_null_props(spark, options):
    env = encode_rows(_rows(spark), options, born_ts_col="ts")
    assert env.where(F.col("props").isNull()).count() == 0


def test_encode_simple_key_value_never_emits_null_props(spark):
    df = spark.createDataFrame([("k1", "v1"), (None, "v2")], "key STRING, value STRING")
    env = encode_simple_key_value(df)
    assert [r.props for r in env.collect()] == [{}, {}]


@pytest.mark.parametrize("options", [
    {},
    {"keyColumns": "id", "isDynamicTag": "true", "dynamicTagColumn": "region"},
])
def test_encoded_round_trip_matches_null_props_encoding(spark, tmp_path, options):
    """Messages written from the empty-map envelope read back the same as
    those written from the null-map envelope the encoders used to emit."""
    register(spark)
    root = str(tmp_path)
    # one writer task, so queue routing and offsets are deterministic
    env = encode_rows(_rows(spark).coalesce(1), options, born_ts_col="ts")
    legacy = env.withColumn("props", F.lit(None).cast("map<string,string>"))
    cols = ["queue_id", "offset", "keys", "tags", "props", "value", "born_ts"]
    got = {}
    for topic, df in (("now", env), ("legacy", legacy)):
        df.write.format("rocketmq").option("path", root).option("topic", topic) \
            .option("numQueues", "4").mode("append").save()
        back = spark.read.format("rocketmq").option("path", root) \
            .option("topic", topic).load()
        got[topic] = sorted(tuple(sorted(v.items()) if isinstance(v, dict) else v
                                  for v in r) for r in back.select(*cols).collect())
    assert got["now"] == got["legacy"] and len(got["now"]) == 3


def test_sink_routing_of_mixed_batches_matches_per_row_rule(tmp_path):
    """One task writes two batches mixing keyed rows, null-key rows, a
    partly null queue_id and null/empty/other topics. Every row lands
    where the per-row rule puts it, in row order: an explicit queue_id,
    else crc32(key) % numQueues, else the task's round-robin counter
    (carried across batches); a null or empty topic falls back to the
    option topic. Null props are stored as empty maps."""
    import zlib

    root, num_queues = str(tmp_path), 4
    rows = [  # (key, queue_id, topic, props)
        ("k1", None, None, None),
        (None, None, "", {"a": "1"}),
        (None, 2, "other", None),
        ("k2", 3, None, None),
        (None, None, "other", None),
        ("k3", None, "other", {"b": "2"}),
        (None, None, None, None),
        ("k1", None, "", None),
        (None, None, None, {}),
        (None, 0, "other", None),
    ]
    schema = pa.schema([("keys", pa.string()), ("queue_id", pa.int32()),
                        ("topic", pa.string()), ("props", MAP),
                        ("value", pa.binary())])

    def batch(lo, hi):
        part = rows[lo:hi]
        return pa.RecordBatch.from_arrays([
            pa.array([r[0] for r in part], pa.string()),
            pa.array([r[1] for r in part], pa.int32()),
            pa.array([r[2] for r in part], pa.string()),
            pa.array([None if r[3] is None else list(r[3].items()) for r in part], MAP),
            pa.array([str(i).encode() for i in range(lo, hi)]),
        ], schema=schema)

    staged = ds._write_batches(root, "t", num_queues, [batch(0, 6), batch(6, 10)])
    ds._commit_staged(root, staged.staged, None)

    want, rr, next_off = {}, 0, {}
    for i, (key, qid, topic, props) in enumerate(rows):
        if qid is None:
            if key is not None:
                qid = zlib.crc32(key.encode("utf-8")) % num_queues
            else:
                qid, rr = rr % num_queues, rr + 1
        dest = (topic or "t", qid)
        off = next_off.get(dest, 0)
        next_off[dest] = off + 1
        want[str(i).encode()] = (*dest, off, sorted((props or {}).items()))

    broker = Broker(root)
    got = {}
    for topic in ("t", "other"):
        for q in broker.queues(topic):
            tbl = broker.read_range(topic, q, 0, broker.latest_offset(topic, q))
            for off, body, props in zip(tbl.column("offset").to_pylist(),
                                        tbl.column("body").to_pylist(),
                                        tbl.column("props").to_pylist()):
                got[body] = (topic, q, off, sorted(props))
    assert got == want
