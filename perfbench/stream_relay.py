"""stream_relay: an open-loop generator feeding a streaming relay.

An open-loop generator appends one small commit per tick to the input
topic at a fixed rate, stamping each message's born_ts with the tick's due
time. A streaming query with the default trigger relays the topic:
readStream.format("rocketmq") -> decode_envelope -> filter ->
encode_rows(born_ts_col="born_ts") -> writeStream.format("rocketmq").

Latency per message is out.store_ts - due_ts, read from the output topic
through the broker after the run. Messages born before the first
non-empty trigger completes are warm-up. After the steady phase the
generator stops and the relay drains. Then BURSTS bursts are appended, one
at a time onto an idle relay; catch-up is burst size / (time from the
burst commit (after its segments are staged) until the output holds it),
the median over the bursts.

Traced runs add the per-layer numbers: the query's progress durations,
backlog and segment counts, and the bulk batch probes of bulk.py.
"""

from __future__ import annotations

import json
import time

import numpy as np

import gen
from bulk import BulkConnector
from harness import median, tail

QUEUES = 8
TICKS_PER_S = 20
BURSTS = 3
SCHEMA = "id bigint, region string, amount double, ts timestamp"
KEEP = "region != 'sa'"
DURATION_KEYS = ("triggerExecution", "latestOffset", "queryPlanning", "addBatch",
                   "walCommit", "commitOffsets")


def sizes(smoke: bool) -> dict:
    if smoke:
        return {"rate": 400, "burst": 5_000}
    return {"rate": 1_000, "burst": 40_000}


def _bodies(rows):
    """Delimited bodies `id, region, amount, ts as epoch ms`, as one Arrow
    binary array."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ts_ms = pc.divide(rows["ts"].cast(pa.int64()), 1000)
    fields = [rows["id"], rows["region"], rows["amount"], ts_ms]
    return pc.binary_join_element_wise(*[f.cast(pa.string()) for f in fields], "\x01") \
        .cast(pa.binary()).combine_chunks()


class StreamRelay:
    def __init__(self, run):
        self.run = run
        self.n = sizes(run.smoke)
        self.root = run.dir("broker")
        self.per_tick = self.n["rate"] // TICKS_PER_S
        self.n_ticks = int(run.seconds * TICKS_PER_S)
        self.ticks: list[tuple[float, float]] = []  # (due, commit started)
        self.commit_ms: list[float] = []
        self.committed = 0  # messages committed so far = the next message id
        self.query = None

    # -- setup ---------------------------------------------------------------

    def generate(self):
        from rocketmq_flink_spark.sources import Broker

        total = self.n_ticks * self.per_tick + (BURSTS + 1) * self.n["burst"]
        rows = gen.log_rows(self.run.seed, total)
        self.bodies = _bodies(rows)
        self.keep = np.asarray(rows.column("region").to_pylist()) != "sa"
        self.broker = Broker(self.root)
        self.broker.create_topic("in", QUEUES)
        self.broker.create_topic("out", QUEUES)

    def commit(self, n: int, born_us: int, queue: int | None = None) -> float:
        """Append the next `n` messages as one commit: one segment to
        `queue`, or one to each queue when `queue` is None. The segments are
        staged first; returns the wall time the commit itself started."""
        import pyarrow as pa

        from rocketmq_flink_spark.sources.broker import SEGMENT_SCHEMA

        ids = np.arange(self.committed, self.committed + n)
        staged = []
        queues = [queue] if queue is not None else range(QUEUES)
        for q, part in zip(queues, np.array_split(ids, len(queues))):
            m = len(part)
            tbl = pa.Table.from_arrays([
                pa.array(np.zeros(m), pa.int64()),
                pa.array(np.full(m, born_us), pa.int64()),
                pa.array(np.zeros(m), pa.int64()),
                pa.array([""] * m),
                pa.array([None] * m, pa.string()),
                pa.array(["log"] * m),
                pa.array([[]] * m, pa.map_(pa.string(), pa.string())),
                self.bodies.slice(int(part[0]), m),
            ], schema=SEGMENT_SCHEMA)
            staged.append((q, self.broker.write_tmp("in", tbl)))
        started = time.time()
        t0 = time.perf_counter()
        self.broker.commit_tmp("in", staged, store_ts_us=int(started * 1e6))
        self.commit_ms.append((time.perf_counter() - t0) * 1000)
        self.committed += n
        return started

    def start_query(self):
        from pyspark.sql import functions as F

        from rocketmq_flink_spark.functions import decode_envelope, encode_rows

        spark = self.run.spark
        with self.run.span("sources.datasource.load"):
            src = (spark.readStream.format("rocketmq").option("path", self.root)
                   .option("topic", "in").load())
        with self.run.span("functions.codec.decode_envelope"):
            rows = decode_envelope(src, SCHEMA, {"lengthCheck": "SKIP"},
                                   metadata_columns=["born_ts"])
        with self.run.span("functions.codec.encode_rows"):
            env = encode_rows(rows.where(F.expr(KEEP)), born_ts_col="born_ts")
        with self.run.span("sources.datasource.stream_write"):
            self.query = (env.writeStream.format("rocketmq")
                          .option("path", self.root).option("topic", "out")
                          .option("numQueues", str(QUEUES))
                          .option("checkpointLocation", self.run.dir("checkpoint"))
                          .start())

    def expected_out(self, upto: int) -> int:
        return int(self.keep[:upto].sum())

    def out_count(self) -> int:
        return sum(self.broker.latest_offset("out", q) for q in range(QUEUES))

    def wait_out(self, n: int, timeout: float) -> float:
        """Poll the output topic until it holds `n` messages; returns the
        time it was first seen complete."""
        end = time.perf_counter() + timeout
        while time.perf_counter() < end:
            if self.out_count() >= n:
                return time.time()
            if self.query.exception() is not None:
                raise RuntimeError(f"relay query failed: {self.query.exception()}")
            time.sleep(0.02)
        raise TimeoutError(f"output holds {self.out_count()} of {n} messages")

    def warm_up(self):
        """Start the query and relay one burst-sized commit: the first
        trigger pays the query's one-off costs, and its size warms the path
        the bursts take."""
        self.start_query()
        self.commit(self.n["burst"], int(time.time() * 1e6))
        self.wait_out(self.expected_out(self.committed), 120)
        self.warm_ids = self.committed

    # -- measurement -----------------------------------------------------------

    def generate_ticks(self):
        """Open loop: tick k is due at t0 + k / TICKS_PER_S whatever the
        relay does; a late tick is committed at once and its lateness kept."""
        t0 = time.time()
        for k in range(self.n_ticks):
            due = t0 + k / TICKS_PER_S
            now = time.time()
            if due > now:
                time.sleep(due - now)
            self.ticks.append((due, time.time()))
            self.commit(self.per_tick, int(due * 1e6), queue=k % QUEUES)

    def measure(self):
        run = self.run
        steady_from = self.committed
        self.generate_ticks()
        steady_to = self.committed
        self.wait_out(self.expected_out(steady_to), 120)

        t_steady_end = time.time()
        rates = []
        for _ in range(BURSTS):
            t0 = self.commit(self.n["burst"], int(time.time() * 1e6))
            t_done = self.wait_out(self.expected_out(self.committed), 120)
            rates.append(self.n["burst"] / (t_done - t0))
        catchup = median(rates)
        self.query.stop()
        self.progress = [json.loads(p.json) for p in self.query.recentProgress]

        out = self.read_out()
        ids = out["id"]
        want = np.nonzero(self.keep[:self.committed])[0]
        if run.wrong_expected:
            want = want[:-1]
        uniq, counts = np.unique(ids, return_counts=True)
        once = uniq[counts == 1]
        # each expected message is one operation: it fails unless it appears
        # exactly once; an output id that was never expected fails one more
        failed = len(want) - len(np.intersect1d(once, want)) + len(np.setdiff1d(uniq, want))
        run.count("relay_exactly_once", len(want), failed,
                  f"{len(ids)} output rows, {len(uniq)} distinct, {len(want)} expected")
        steady = (ids >= steady_from) & (ids < steady_to)
        lat_ms = (out["store_ts"][steady] - out["born_ts"][steady]) / 1000.0
        p50 = median(lat_ms)
        tl = tail(lat_ms)
        run.e2e["latency_ms"] = (p50, "ms")
        run.e2e["throughput_per_s"] = (catchup, "1/s")
        run.info.update(relay_latency_p50_ms=(p50, "ms"),
                        relay_catchup_msgs_per_s=(catchup, "msgs/s"),
                        relay_steady_msgs=(len(lat_ms), "count"))
        if tl:
            run.info["relay_latency_tail_ms"] = (tl[1], "ms")
            run.info["relay_latency_tail_pct"] = (tl[0], "pct")
            run.info["relay_latency_tail_beyond"] = (tl[2], "count")
        self.latency = (p50, tl[1] if tl else 0.0, catchup)
        t0 = self.ticks[0][0]
        self.steady = [p for p in self.progress if p["numInputRows"] > 0
                       and t0 <= _ts(p["timestamp"]) <= t_steady_end]
        run.info["stream_trigger_ms_p50"] = (
            median([p["durationMs"]["triggerExecution"] for p in self.steady]), "ms")

    def read_out(self) -> dict:
        cols = {"id": [], "born_ts": [], "store_ts": []}
        for q in range(QUEUES):
            tbl = self.broker.read_range("out", q, 0, self.broker.latest_offset("out", q))
            cols["born_ts"].append(tbl.column("born_ts").to_numpy())
            cols["store_ts"].append(tbl.column("store_ts").to_numpy())
            cols["id"].append(np.array(
                [int(b.split(b"\x01", 1)[0]) for b in tbl.column("body").to_pylist()],
                dtype=np.int64))
        return {k: np.concatenate(v) if v else np.array([]) for k, v in cols.items()}

    # -- per-layer (traced runs) -------------------------------------------------

    def probe(self):
        from rocketmq_flink_spark.sources.datasource import RocketMQStreamReader

        run, t, steady = self.run, self.run.tracer.total, self.steady
        durs = {k: [p["durationMs"].get(k, 0) for p in steady] for k in DURATION_KEYS}
        backlog = []
        for p in steady:
            end = p["sources"][0].get("endOffset")
            if isinstance(end, str):
                end = json.loads(end)
            if not end:
                continue
            done = sum(int(v) for v in end.values())
            t_end = _ts(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000
            committed = self.warm_ids + self.per_tick * sum(s <= t_end for _, s in self.ticks)
            backlog.append(max(committed - done, 0))
        segs = sum(len(self.broker.segments("in", q)) for q in range(QUEUES))
        reader = RocketMQStreamReader({"path": self.root, "topic": "in"})
        with run.span("sources.datasource.stream_plan"):
            reader.partitions(reader.initialOffset(), reader.latestOffset())
        p50, tl, catchup = self.latency

        def m(key):
            return median(durs[key]) if steady else 0.0

        run.layers.update({
            "stream.batches": (len(steady), "count"),
            "stream.rows_per_batch_p50": (
                median([p["numInputRows"] for p in steady]) if steady else 0, "count"),
            "stream.trigger_ms_p50": (m("triggerExecution"), "ms"),
            "stream.latest_offset_ms_p50": (m("latestOffset"), "ms"),
            "stream.query_planning_ms_p50": (m("queryPlanning"), "ms"),
            "stream.add_batch_ms_p50": (m("addBatch"), "ms"),
            "stream.wal_commit_ms_p50": (m("walCommit"), "ms"),
            "stream.commit_offsets_ms_p50": (m("commitOffsets"), "ms"),
            "stream.backlog_msgs_max": (max(backlog) if backlog else 0, "count"),
            "stream.input_segments_end": (segs, "count"),
            "generator.late_ms_max": (
                max((s - d) * 1000 for d, s in self.ticks) if self.ticks else 0, "ms"),
            "generator.commit_ms_p50": (median(self.commit_ms) if self.commit_ms else 0, "ms"),
            "datasource.stream_plan_s": (t("sources.datasource.stream_plan"), "s"),
            "relay.latency_p50_ms": (p50, "ms"),
            "relay.latency_tail_ms": (tl, "ms"),
            "relay.catchup_msgs_per_s": (catchup, "msgs/s"),
        })
        BulkConnector(run).run_all()


def _ts(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
