"""PySpark Python DataSource for the message log ("rocketmq" format).

Maps the reference's three integration levels onto Spark's unified one:
- FLIP-27 Source (RocketMQSource.java:52-181)          -> DataSourceStreamReader
- bounded table scan (RocketMQScanTableSource)          -> DataSourceReader
- SinkFunction / DynamicTableSink (RocketMQSink.java)   -> (Stream)Writer

Split model: the analog of RocketMQPartitionSplit is a (queue,
offset-range) pair, but an input partition holds a LIST of them: the
ranges of a batch (split at maxRecordsPerPartition) are packed, in queue
and offset order, into partitions of up to PACK_TARGET messages. The
reference's split readers are long-lived, so a split costs nothing per
poll; here every partition is a Spark task with two Python worker round
trips (read + Arrow sink write), so a steady micro-batch over many small
queues runs as one task, not one per queue. Partition discovery re-lists
queue dirs every batch (the enumerator's periodic discovery,
RocketMQSourceEnumerator.java:148-160, with interval 0). Reader->task
assignment is left to Spark's scheduler (the reference's getSplitOwner
hash exists only because Flink pins splits to readers).

Offset surface (reference: RocketMQOptions + RocketMQSourceFunction
initOffset, legacy/RocketMQSourceFunction.java:330-365):
  startingOffsets = earliest | latest | timestamp:<ms> | {"<queue>": off}
  endingOffsets   = latest | {"<queue>": off}  (batch replay bound, W7)
  endingTimestamp = <epoch ms>   (bounded read / stopInMs, W6)
  tag             = broker-side tag filter (P1) applied in read()
  maxOffsetsPerTrigger = per-microbatch rate cap across queues
  maxRecordsPerPartition = split large offset ranges for parallelism

Scale notes: read() yields Arrow RecordBatches (vectorized into Spark,
no per-row Python); ranges are chunked so a backlogged queue fans out
across tasks instead of serializing into one, and a partition never
holds more than maxRecordsPerPartition messages.
"""

from __future__ import annotations

import json
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from rocketmq_flink_spark.config import (
    normalize_options,
    parse_datetime_ms,
    require,
)
from rocketmq_flink_spark.sources.broker import SEGMENT_SCHEMA, Broker
from rocketmq_flink_spark.sources.retry import call_with_retry, retry_params

ENVELOPE_DDL = (
    "topic string, queue_id int, offset bigint, msg_id string, keys string, "
    "tags string, born_ts timestamp, store_ts timestamp, "
    "props map<string,string>, value binary"
)

ARROW_ENVELOPE = pa.schema(
    [
        ("topic", pa.string()),
        ("queue_id", pa.int32()),
        ("offset", pa.int64()),
        ("msg_id", pa.string()),
        ("keys", pa.string()),
        ("tags", pa.string()),
        ("born_ts", pa.timestamp("us")),
        ("store_ts", pa.timestamp("us")),
        ("props", pa.map_(pa.string(), pa.string())),
        ("value", pa.binary()),
    ]
)

# Messages per input partition. Each partition is one Spark task, and
# each task pays two Python worker round trips (the DataSource read and
# the Arrow sink write), so consecutive queue ranges are packed into one
# partition up to this many messages. Swept on a 40k-message burst
# (8 queues of 5k; read -> decode -> filter -> encode -> rocketmq write;
# 4-core VM, local[4], median of 5): one partition per queue (8 tasks)
# 2.26 s, 10k (4 tasks) 1.52 s, 20k (2 tasks) 1.33 s, 40k (1 task) 1.39 s.
# A steady relay trigger (~2k messages) is one task at any of these.
PACK_TARGET = 20_000


class QueueRanges(InputPartition):
    """A list of (queue_id, start, end) offset ranges of one topic, read
    in order by one task. An empty list is the empty-topic sentinel."""

    def __init__(self, root: str, topic: str, ranges: list[tuple[int, int, int]],
                 tag: str | None, sql: str | None = None):
        self.root = root
        self.topic = topic
        self.ranges = ranges
        self.tag = tag
        self.sql = sql


def _chunk(start: int, end: int, max_records: int):
    lo = start
    while lo < end:
        hi = min(lo + max_records, end)
        yield lo, hi
        lo = hi


def _pack(ranges, max_records: int):
    """Split each (queue, start, end) range at `max_records`, then pack
    consecutive pieces into lists of at most min(PACK_TARGET, max_records)
    messages; a piece above that keeps a list of its own."""
    target = min(PACK_TARGET, max_records)
    packs, cur, size = [], [], 0
    for q, start, end in ranges:
        for lo, hi in _chunk(start, end, max_records):
            if cur and size + (hi - lo) > target:
                packs.append(cur)
                cur, size = [], 0
            cur.append((q, lo, hi))
            size += hi - lo
    if cur:
        packs.append(cur)
    return packs


def _read_partition(part: QueueRanges):
    """Executor-side scan of a partition's offset ranges -> one Arrow
    batch per non-empty range."""
    broker = Broker(part.root)
    tags = None
    if part.tag and part.tag != "*":
        # Broker-side tag filter analog (consumer.pull(mq, tag, ...),
        # RocketMQPartitionSplitReader.java:161-163). Tag option supports
        # the 'a || b' subscription syntax.
        tags = pa.array([t.strip() for t in part.tag.split("||")])
    sql_mask = _sql92_mask(part.sql) if part.sql else None
    for queue_id, start, end in part.ranges:
        tbl = call_with_retry(
            lambda: broker.read_range(part.topic, queue_id, start, end)
        )
        if tags is not None:
            tbl = tbl.filter(pc.is_in(tbl.column("tags"), value_set=tags))
        if sql_mask is not None and tbl.num_rows:
            tbl = tbl.filter(sql_mask(tbl.column("props")))
        n = tbl.num_rows
        if n == 0:
            continue
        arrays = [
            pa.array([part.topic] * n, pa.string()),
            pa.array([queue_id] * n, pa.int32()),
            tbl.column("offset").combine_chunks(),
            tbl.column("msg_id").combine_chunks(),
            tbl.column("keys").combine_chunks(),
            tbl.column("tags").combine_chunks(),
            tbl.column("born_ts").combine_chunks().cast(pa.timestamp("us")),
            tbl.column("store_ts").combine_chunks().cast(pa.timestamp("us")),
            tbl.column("props").combine_chunks(),
            tbl.column("body").combine_chunks(),
        ]
        yield pa.RecordBatch.from_arrays(arrays, schema=ARROW_ENVELOPE)


def _sql92_mask(sql: str):
    """SQL92 property filter (P2): the reference broker evaluates the
    predicate per message when enablePropertyFilter=true; this reader IS
    the broker side of the local simulation, so the filter runs here,
    below the DataFrame layer. Compiled once per partition; evaluated
    VECTORIZED (map_lookup per referenced property + numpy column program
    — functions/sql92.py arrow backend) with the reference-shaped
    per-message closure as fallback. Returns props column -> bool mask."""
    from rocketmq_flink_spark.functions.sql92 import (
        compile_sql92,
        compile_sql92_arrow,
    )

    arrow_pred = compile_sql92_arrow(sql)

    def mask(props):
        try:
            return arrow_pred.mask(props)
        except Exception:  # pragma: no cover - defensive fallback
            import logging

            logging.getLogger(__name__).warning(
                "vectorized SQL92 filter failed for %r; falling back to "
                "the per-message closure (slow path)", sql,
                exc_info=True,
            )
            pred = compile_sql92(sql)
            return pa.array([pred(dict(kvs or [])) for kvs in props.to_pylist()])

    return mask


def _validated_sql(opts: dict) -> str | None:
    """Compile-check the SQL92 `sql` option at plan time (factory
    validation analog) and return it for executor-side evaluation."""
    sql = opts.get("sql")
    if not sql:
        return None
    from rocketmq_flink_spark.functions.sql92 import compile_sql92

    compile_sql92(sql)  # raises Sql92Error on malformed input
    return sql


def _starting_offsets_spec(opts: dict) -> str:
    """Resolve the starting-position option precedence (reference:
    RocketMQDynamicTableSourceFactory.java:114-148 + legacy initOffset,
    RocketMQSourceFunction.java:330-365): an explicit startingOffsets
    wins, then startMessageOffset, then startTimeMs, then startTime
    ('yyyy-MM-dd HH:mm:ss' in timeZone)."""
    spec = opts.get("startingOffsets")
    if spec and spec != "earliest":
        return spec
    if opts.get("startMessageOffset"):
        return '{"*": %d}' % int(opts["startMessageOffset"])
    if opts.get("startTimeMs"):
        return f"timestamp:{int(opts['startTimeMs'])}"
    if opts.get("startTime"):
        ms = parse_datetime_ms(opts["startTime"], opts.get("timeZone"))
        return f"timestamp:{ms}"
    return spec or "earliest"


def _ending_ts_ms(opts: dict) -> int | None:
    """endingTimestamp (epoch ms) or endTime datetime -> stopInMs (W6)."""
    if opts.get("endingTimestamp"):
        return int(opts["endingTimestamp"])
    if opts.get("endTime"):
        return parse_datetime_ms(opts["endTime"], opts.get("timeZone"))
    return None


def _resolve_start(broker: Broker, topic: str, queue_id: int, spec: str) -> int:
    spec = (spec or "earliest").strip()
    if spec == "earliest":
        return broker.earliest_offset(topic, queue_id)
    if spec == "latest":
        return broker.latest_offset(topic, queue_id)
    if spec.startswith("timestamp:"):
        ts_ms = int(spec.split(":", 1)[1])
        return broker.offset_for_timestamp(topic, queue_id, ts_ms * 1000)
    if spec.startswith("{"):
        explicit = json.loads(spec)
        return int(explicit.get(str(queue_id), explicit.get("*", 0)))
    raise ValueError(f"invalid startingOffsets: {spec!r}")


def _resolve_end(broker: Broker, topic: str, queue_id: int, spec: str) -> int:
    """endingOffsets bound. Unlike a missing START key (0 = read from
    the beginning, lossless), a missing END key must default to LATEST
    — defaulting to 0 would silently drop the queue's entire range."""
    spec = (spec or "latest").strip()
    if spec == "latest":
        return broker.latest_offset(topic, queue_id)
    if spec.startswith("{"):
        explicit = json.loads(spec)
        v = explicit.get(str(queue_id), explicit.get("*"))
        if v is None:
            return broker.latest_offset(topic, queue_id)
        return int(v)
    raise ValueError(f"invalid endingOffsets: {spec!r}")


class _QueueScan:
    """Options, split planning and read() shared by the batch and stream
    readers."""

    def __init__(self, options: dict):
        self.opts = normalize_options(dict(options))
        require(self.opts, "path", "topic")
        self.root = self.opts["path"]
        self.topic = self.opts["topic"]
        self.tag = self.opts.get("tag", "*")
        self.sql = _validated_sql(self.opts)
        self.max_records = int(self.opts.get("maxRecordsPerPartition", "500000"))

    def _plan(self, ranges) -> list[QueueRanges]:
        """(queue, start, end) ranges -> packed partitions, or the empty
        sentinel partition when there is nothing to read."""
        packs = _pack(ranges, self.max_records) or [[]]
        return [QueueRanges(self.root, self.topic, p, self.tag, self.sql)
                for p in packs]

    def read(self, partition: QueueRanges):
        return _read_partition(partition)


class RocketMQBatchReader(_QueueScan, DataSourceReader):
    """Bounded scan (reference boundedness: stopInMs / endTime, S14/W6)."""

    def partitions(self):
        from rocketmq_flink_spark.sources.broker import check_acl

        check_acl(self.root, self.opts.get("accessKey"), self.opts.get("secretKey"))
        broker = Broker(self.root)
        ending_ts = _ending_ts_ms(self.opts)
        start_spec = _starting_offsets_spec(self.opts)
        # endingOffsets: explicit per-queue bound ({"<queue>": off} /
        # "latest"), the batch-replay counterpart of startingOffsets —
        # what a restart replays between two W7 offset-log snapshots
        ending_spec = self.opts.get("endingOffsets")
        ranges = []
        for q in broker.queues(self.topic):
            start = _resolve_start(broker, self.topic, q, start_spec)
            if ending_spec:
                end = _resolve_end(broker, self.topic, q, ending_spec)
            elif ending_ts is not None:
                end = broker.offset_for_timestamp(
                    self.topic, q, (ending_ts + 1) * 1000
                )
            else:
                end = broker.latest_offset(self.topic, q)
            ranges.append((q, start, end))
        return self._plan(ranges)


class RocketMQStreamReader(_QueueScan, DataSourceStreamReader):
    """Microbatch streaming source; offsets are {queue_id: next_offset}
    JSON dicts checkpointed by Structured Streaming (the analog of the
    reference's union-state offset snapshot, W7)."""

    def __init__(self, options: dict):
        super().__init__(options)
        if self.opts.get("endingOffsets"):
            # batch-only bound; streaming past it would silently violate
            # the contract (Kafka's source rejects this the same way)
            raise ValueError(
                "endingOffsets is a batch read option; for a bounded "
                "stream use trigger(availableNow=True) or endingTimestamp"
            )
        self.max_per_trigger = self.opts.get("maxOffsetsPerTrigger")
        self._cursor: dict | None = None  # last end offsets handed to Spark

    def _broker(self) -> Broker:
        return Broker(self.root)

    def initialOffset(self) -> dict:
        from rocketmq_flink_spark.sources.broker import check_acl

        check_acl(self.root, self.opts.get("accessKey"), self.opts.get("secretKey"))
        broker = self._broker()
        init = {
            str(q): _resolve_start(
                broker, self.topic, q, _starting_offsets_spec(self.opts)
            )
            for q in broker.queues(self.topic)
        }
        self._cursor = dict(init)
        return init

    def latestOffset(self) -> dict:
        """Next batch end offsets. The maxOffsetsPerTrigger cap MUST be
        applied here (not in partitions()): whatever this returns goes
        into the offset log as the batch's committed end, so capping any
        later would silently skip messages."""
        broker = self._broker()
        latest = {
            str(q): broker.latest_offset(self.topic, q)
            for q in broker.queues(self.topic)
        }
        if not self.max_per_trigger:
            self._cursor = dict(latest)
            return latest
        cursor = self._cursor
        if cursor is None:
            # Spark calls latestOffset() BEFORE initialOffset() on a fresh
            # query, so seed the cursor from the configured start. After a
            # checkpoint restart the true position may be further ahead;
            # partitions() resyncs the cursor to max(start, end), costing
            # at most one undersized batch.
            broker2 = self._broker()
            cursor = {
                str(q): _resolve_start(
                    broker2, self.topic, q, _starting_offsets_spec(self.opts)
                )
                for q in broker2.queues(self.topic)
            }
        budget = int(self.max_per_trigger)
        capped = {}
        for q_str, latest_off in sorted(latest.items()):
            cur = int(cursor.get(q_str, 0))
            take = max(min(int(latest_off) - cur, budget), 0)
            capped[q_str] = cur + take
            budget -= take
        self._cursor = dict(capped)
        return capped

    def partitions(self, start: dict, end: dict):
        # resync the cap cursor (handles checkpoint restarts, where the
        # offset log's position is ahead of the configured start)
        self._cursor = {
            q: max(int(end.get(q, 0)), int(start.get(q, 0)))
            for q in set(start) | set(end)
        }
        return self._plan(
            (int(q), int(start.get(q, 0)), int(end[q])) for q in sorted(end, key=int)
        )

    def commit(self, end: dict) -> None:
        # Offsets live in Spark's checkpoint (commit log); the reference's
        # broker-side commit (notifyCheckpointComplete) has no analog here.
        pass


class StagedBatch(WriterCommitMessage):
    def __init__(self, staged: list[tuple[str, int, str]]):
        self.staged = staged  # (topic, queue_id, tmp_path)


def _write_batches(root: str, topic: str, num_queues: int, batches):
    """Task-side write, Arrow-native: consume `pa.RecordBatch`es (the
    DataSourceArrowWriter contract), route rows to (topic, queue)
    buckets with COLUMNAR ops, stage one parquet per bucket.

    Input columns follow the encode_rows envelope (keys, tags, props,
    value, born_ts [, queue_id] [, topic]). A non-empty `topic` column
    overrides the option topic per row — the TopicSelector surface
    (R1-R3), Kafka-sink style. Queue routing: explicit queue_id column
    if present, else crc32(keys) % numQueues, else a per-task
    round-robin — mirroring the reference's MessageQueueSelector usage
    (RocketMQSink.java:110-116 buffers 32 messages per send; an Arrow
    record batch is the Spark-native batching unit, and rows never
    materialize as Python objects — the single remaining per-row op is
    the crc32 over the keys column, and only for keyed rows without an
    explicit queue_id).
    """
    parts: dict[tuple[str, int], list[pa.Table]] = {}
    rr = 0
    for rb in batches:
        n = rb.num_rows
        if n == 0:
            continue
        names = rb.schema.names

        def col(c, rb=rb, names=names):
            return rb.column(names.index(c)) if c in names else None

        # --- normalized segment columns (vectorized casts) ---
        born = col("born_ts")
        if born is not None:
            born_us = pc.fill_null(
                born.cast(pa.timestamp("us")).cast(pa.int64()), 0
            )
        else:
            born_us = pa.array([0] * n, pa.int64())
        keys_c = col("keys")
        keys_arr = (
            keys_c.cast(pa.string())
            if keys_c is not None
            else pa.array([None] * n, pa.string())
        )
        tags_c = col("tags")
        tags_arr = (
            tags_c.cast(pa.string())
            if tags_c is not None
            else pa.array([None] * n, pa.string())
        )
        props_c = col("props")
        if props_c is None:
            props_arr = pa.array([[]] * n, pa.map_(pa.string(), pa.string()))
        elif props_c.null_count:
            # nulls become EMPTY maps (historic row-writer behavior);
            # map arrays have no fill_null, so only this rare case
            # drops to pylist
            props_arr = pa.array(
                [m if m is not None else [] for m in props_c.to_pylist()],
                pa.map_(pa.string(), pa.string()),
            )
        else:
            props_arr = props_c.cast(pa.map_(pa.string(), pa.string()))
        body_c = col("value")
        if body_c is None:
            body_arr = pa.array([b""] * n, pa.binary())
        else:
            body_arr = pc.fill_null(body_c.cast(pa.binary()), b"")
        norm = pa.Table.from_arrays(
            [
                pa.array([0] * n, pa.int64()),  # offset: assigned at commit
                pa.chunked_array([born_us]).combine_chunks(),
                pa.array([0] * n, pa.int64()),  # store_ts: stamped at commit
                pa.array([""] * n, pa.string()),  # msg_id: stamped at commit
                keys_arr,
                tags_arr,
                props_arr,
                body_arr,
            ],
            schema=SEGMENT_SCHEMA,
        )

        # --- per-row routing key (topic index * num_queues + qid) ---
        qcol = col("queue_id")
        if qcol is not None:
            qids = pc.fill_null(qcol.cast(pa.int64()), -1).to_numpy(
                zero_copy_only=False
            ).copy()
        else:
            qids = np.full(n, -1, dtype=np.int64)
        unrouted = qids < 0
        if unrouted.any():
            keyless = keys_arr.is_null().to_numpy(zero_copy_only=False)
            keyed = np.nonzero(unrouted & ~keyless)[0]
            if len(keyed):
                # crc32: stable across processes (builtin hash is salted
                # per run)
                qids[keyed] = [
                    zlib.crc32(k.encode("utf-8")) % num_queues
                    for k in keys_arr.take(pa.array(keyed)).to_pylist()
                ]
            free = np.nonzero(unrouted & keyless)[0]
            qids[free] = (rr + np.arange(len(free))) % num_queues
            rr += len(free)
        tcol = col("topic")
        if tcol is not None and tcol.null_count < n:
            topics = pc.fill_null(tcol.cast(pa.string()), "")
            topics = pc.if_else(pc.equal(topics, ""), topic, topics)
            uniq_topics = sorted(pc.unique(topics).to_pylist())
            t_idx = pc.index_in(topics, value_set=pa.array(uniq_topics, pa.string()))
            codes = t_idx.to_numpy(zero_copy_only=False).astype(np.int64) * num_queues + qids
        else:
            uniq_topics = [topic]
            codes = qids

        # --- stable sort-split into buckets, zero row copies ---
        order = np.argsort(codes, kind="stable")
        sorted_tbl = norm.take(pa.array(order))
        sorted_codes = codes[order]
        uniq_codes, starts = np.unique(sorted_codes, return_index=True)
        bounds = list(starts) + [n]
        for ci, code in enumerate(uniq_codes):
            btopic = uniq_topics[int(code) // num_queues]
            qid = int(code) % num_queues
            sub = sorted_tbl.slice(bounds[ci], bounds[ci + 1] - bounds[ci])
            parts.setdefault((btopic, qid), []).append(sub)

    broker = Broker(root)
    staged = []
    for (btopic, qid), tbls in parts.items():
        tbl = pa.concat_tables(tbls) if len(tbls) > 1 else tbls[0]
        staged.append((btopic, qid, broker.write_tmp(btopic, tbl)))
    return StagedBatch(staged)


def _commit_staged(
    root: str,
    staged: list[tuple[str, int, str]],
    epoch_id: str | None,
    retry_opts: dict | None = None,
) -> None:
    """Commit staged batches grouped per topic (multi-topic sink).

    Commits retry with backoff (O1/RetryUtil; retryTimes/sleepTimeMs
    options override the exponential defaults, RocketMQSink-style)."""
    broker = Broker(root)
    store_ts_us = int(time.time() * 1_000_000)
    by_topic: dict[str, list[tuple[int, str]]] = {}
    for btopic, qid, path in staged:
        by_topic.setdefault(btopic, []).append((qid, path))
    kwargs = retry_params(retry_opts or {})
    for btopic, items in by_topic.items():
        call_with_retry(
            lambda t=btopic, i=items: broker.commit_tmp(
                t, i, store_ts_us=store_ts_us, epoch_id=epoch_id
            ),
            **kwargs,
        )


class RocketMQBatchWriter(DataSourceArrowWriter):
    def __init__(self, options: dict):
        from rocketmq_flink_spark.sources.broker import check_acl

        self.opts = normalize_options(dict(options))
        require(self.opts, "path", "topic")
        self.root = self.opts["path"]
        self.topic = self.opts["topic"]
        self.num_queues = int(self.opts.get("numQueues", "8"))
        check_acl(self.root, self.opts.get("accessKey"), self.opts.get("secretKey"))

    def write(self, iterator):
        return _write_batches(self.root, self.topic, self.num_queues, iterator)

    def commit(self, messages):
        staged = [s for m in messages if m for s in m.staged]
        # `_epoch` (underscore-passthrough option) lets foreachBatch sinks
        # reuse the stream writer's idempotent-epoch commit (W9): a retried
        # epoch with the same id is a no-op instead of a duplicate.
        _commit_staged(self.root, staged, epoch_id=self.opts.get("_epoch"),
                       retry_opts=self.opts)

    def abort(self, messages):
        staged = [s for m in messages if m for s in m.staged]
        Broker(self.root).abort_tmp([(q, p) for _, q, p in staged])


class RocketMQStreamWriter(DataSourceStreamArrowWriter):
    """Per-epoch commit (flush-on-checkpoint analog, W9); epoch markers
    make retried epochs idempotent. Arrow-batch write path."""

    def __init__(self, options: dict):
        from rocketmq_flink_spark.sources.broker import check_acl

        self.opts = normalize_options(dict(options))
        require(self.opts, "path", "topic")
        self.root = self.opts["path"]
        self.topic = self.opts["topic"]
        self.num_queues = int(self.opts.get("numQueues", "8"))
        check_acl(self.root, self.opts.get("accessKey"), self.opts.get("secretKey"))

    def write(self, iterator):
        return _write_batches(self.root, self.topic, self.num_queues, iterator)

    def commit(self, messages, batchId):
        staged = [s for m in messages if m for s in m.staged]
        _commit_staged(self.root, staged, epoch_id=str(batchId),
                       retry_opts=self.opts)

    def abort(self, messages, batchId):
        staged = [s for m in messages if m for s in m.staged]
        Broker(self.root).abort_tmp([(q, p) for _, q, p in staged])


class RocketMQDataSource(DataSource):
    """format("rocketmq") — batch + streaming, read + write."""

    @classmethod
    def name(cls) -> str:
        return "rocketmq"

    def schema(self) -> str:
        return ENVELOPE_DDL

    def reader(self, schema):
        return RocketMQBatchReader(self.options)

    def streamReader(self, schema):
        return RocketMQStreamReader(self.options)

    def writer(self, schema, overwrite: bool):
        return RocketMQBatchWriter(self.options)

    def streamWriter(self, schema, overwrite: bool):
        return RocketMQStreamWriter(self.options)


def register(spark) -> None:
    """Register the DataSource (the SPI META-INF/services analog, S13)."""
    spark.dataSource.register(RocketMQDataSource)
