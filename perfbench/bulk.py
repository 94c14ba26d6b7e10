"""Bulk batch use of the connector, run inside traced stream_relay runs.

Two phases, each timed once after a small warm-up:

- publish: typed rows (parquet) -> encode_rows (key routing, dynamic tag
  and property columns) -> format("rocketmq") batch write to a fresh
  topic. Keys are Zipf-skewed, so one queue runs hot.
- backfill: bounded format("rocketmq") read of a topic committed
  beforehand as many small segments per queue -> decode_envelope
  (lengthCheck=SKIP, ~2% dirty lines) -> groupBy aggregate -> collect.

Then single-layer probes time the broker, datasource and codec calls the
phases are made of, one layer at a time.
"""

from __future__ import annotations

import os
import time

import gen

QUEUES = 8
PUBLISH_OPTS = {
    "keyColumns": "k",
    "isDynamicTag": "true",
    "dynamicTagColumn": "region",
    "isDynamicProperty": "true",
    "dynamicPropertyColumns": "level",
}
DECODE_SCHEMA = "id bigint, region string, amount double, ts timestamp"


def sizes(smoke: bool) -> dict:
    if smoke:
        return {"publish": 20_000, "backfill": 20_000, "segments": 4, "warm": 2_000}
    return {"publish": 60_000, "backfill": 60_000, "segments": 32, "warm": 2_000}


class BulkConnector:
    def __init__(self, run):
        self.run = run
        self.n = sizes(run.smoke)
        self.broker_root = run.dir("bulk", "broker")
        self.rows_path = run.path("bulk", "rows.parquet")
        self.pub_s = self.back_s = 0.0
        self.pub_tasks = self.back_tasks = 0
        self.kept_ratio = 0.0

    # -- setup ---------------------------------------------------------------

    def generate(self):
        import pyarrow.parquet as pq

        seed = self.run.seed
        rows = gen.log_rows(seed, self.n["publish"])
        # one row group per core-sized slice, so the scan splits
        pq.write_table(rows, self.rows_path,
                       row_group_size=max(1, rows.num_rows // 8))
        self.expected_hist = gen.queue_histogram(rows.column("k").to_pylist(), QUEUES)
        if self.run.wrong_expected:
            self.expected_hist[0] += 1
        self.expected_agg = gen.backfill_segments(
            self.broker_root, "backfill", seed + 1, self.n["backfill"], QUEUES,
            self.n["segments"])
        self.warm_rows = self.run.path("bulk", "warm.parquet")
        pq.write_table(gen.log_rows(seed + 2, self.n["warm"]), self.warm_rows)
        self.warm_agg = gen.backfill_segments(
            self.broker_root, "warm", seed + 3, self.n["warm"], QUEUES, 2)

    def warm_up(self):
        self.publish("warm-pub", self.warm_rows, None, "warm-publish")
        self.backfill("warm", self.warm_agg, self.n["warm"], "warm-backfill")

    # -- phases --------------------------------------------------------------

    def publish(self, topic: str, rows_path: str, expected_hist, group: str) -> float:
        from rocketmq_flink_spark.functions import encode_rows
        from rocketmq_flink_spark.sources import Broker

        spark = self.run.spark
        with self.run.job_group(group):
            t0 = time.perf_counter()
            with self.run.span("functions.codec.encode_rows"):
                env = encode_rows(spark.read.parquet(rows_path), PUBLISH_OPTS)
            with self.run.span("sources.datasource.write"):
                (env.write.format("rocketmq").mode("append")
                 .option("path", self.broker_root).option("topic", topic)
                 .option("numQueues", str(QUEUES)).save())
            dt = time.perf_counter() - t0
        if expected_hist is not None:
            broker = Broker(self.broker_root)
            got = [broker.latest_offset(topic, q) for q in range(QUEUES)]
            self.run.check("publish", got == expected_hist,
                           f"per-queue offsets {got} != {expected_hist}")
        return dt

    def backfill(self, topic: str, expected, n_lines: int, group: str) -> float:
        from pyspark.sql import functions as F

        from rocketmq_flink_spark.functions import decode_envelope

        spark = self.run.spark
        with self.run.job_group(group):
            t0 = time.perf_counter()
            with self.run.span("sources.datasource.load"):
                env = (spark.read.format("rocketmq").option("path", self.broker_root)
                       .option("topic", topic).load())
            with self.run.span("functions.codec.decode_envelope"):
                rows = decode_envelope(env, DECODE_SCHEMA, {"lengthCheck": "SKIP"})
            agg = rows.groupBy("region").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("amount").cast("decimal(16,2)")).alias("amount"),
                F.max(F.unix_millis("ts")).alias("ts_max"),
            )
            with self.run.span("spark.collect"):
                out = agg.collect()
            dt = time.perf_counter() - t0
        got = {r["region"]: (r["n"], int(r["amount"] * 100), r["ts_max"]) for r in out}
        self.run.check("backfill", got == expected, f"aggregate {got} != {expected}")
        self.kept_ratio = sum(v[0] for v in got.values()) / n_lines
        return dt

    def measure(self):
        self.pub_s = self.publish("pub", self.rows_path, self.expected_hist, "publish")
        self.back_s = self.backfill("backfill", self.expected_agg, self.n["backfill"],
                                    "backfill")
        self.pub_tasks = self.run.job_tasks("publish")
        self.back_tasks = self.run.job_tasks("backfill")

    def run_all(self):
        """Generate, warm up, time the phases, then probe each layer."""
        with self.run.span("bulk.generate"):
            self.generate()
        with self.run.span("bulk.warm_up"):
            self.warm_up()
        self.measure()
        self.probe()

    # -- per-layer probes (traced runs) ----------------------------------------

    def probe(self):
        from rocketmq_flink_spark.functions import decode_envelope, encode_rows
        from rocketmq_flink_spark.sources import Broker
        from rocketmq_flink_spark.sources.datasource import (
            RocketMQBatchReader,
            RocketMQBatchWriter,
        )

        run, spark, span = self.run, self.run.spark, self.run.span
        broker = Broker(self.broker_root)
        topic = "backfill"
        segs = [s for q in broker.queues(topic) for s in broker.segments(topic, q)]
        with span("sources.broker.read_range"):
            for q in broker.queues(topic):
                broker.read_range(topic, q, broker.earliest_offset(topic, q),
                                  broker.latest_offset(topic, q))
        opts = {"path": self.broker_root, "topic": topic}
        reader = RocketMQBatchReader(opts)
        with span("sources.datasource.partitions"):
            parts = reader.partitions()
        with span("sources.datasource.read"):
            for p in parts:
                for _ in reader.read(p):
                    pass
        with span("sources.datasource.scan"):
            (spark.read.format("rocketmq").options(**opts).load()
             .write.format("noop").mode("overwrite").save())

        # pre-encoded Arrow batches -> writer.write (staging) -> broker commit
        batches = (encode_rows(spark.read.parquet(self.rows_path), PUBLISH_OPTS)
                   .toArrow().to_batches(max_chunksize=50_000))
        writer = RocketMQBatchWriter({**opts, "topic": "probe-out",
                                      "numQueues": str(QUEUES)})
        with span("sources.datasource.write_batches"):
            staged = writer.write(iter(batches))
        with span("sources.broker.commit_tmp"):
            broker.commit_tmp("probe-out", [(q, p) for _, q, p in staged.staged],
                              store_ts_us=int(time.time() * 1e6))
        published = "pub"
        out_segs = sum(len(broker.segments(published, q)) for q in broker.queues(published))
        counts = [broker.latest_offset(published, q) for q in range(QUEUES)]

        staged_env = run.path("bulk", "envelope.parquet")
        (spark.read.format("rocketmq").options(**opts).load()
         .write.mode("overwrite").parquet(staged_env))
        with span("functions.codec.decode_noop"):
            (decode_envelope(spark.read.parquet(staged_env), DECODE_SCHEMA,
                             {"lengthCheck": "SKIP"})
             .write.format("noop").mode("overwrite").save())
        with span("functions.codec.encode_noop"):
            (encode_rows(spark.read.parquet(self.rows_path), PUBLISH_OPTS)
             .write.format("noop").mode("overwrite").save())

        t = run.tracer.total
        run.layers.update({
            "broker.read_range_s": (t("sources.broker.read_range"), "s"),
            "broker.read_mb": (sum(os.path.getsize(s[2]) for s in segs) / 1e6, "MB"),
            "broker.commit_s": (t("sources.broker.commit_tmp"), "s"),
            "broker.segments_in": (len(segs), "count"),
            "broker.segments_out": (out_segs, "count"),
            "broker.queue_skew": (max(counts) / (sum(counts) / len(counts)), "ratio"),
            "datasource.plan_s": (t("sources.datasource.partitions"), "s"),
            "datasource.partitions": (len(parts), "count"),
            "datasource.read_s": (t("sources.datasource.read"), "s"),
            "datasource.scan_s": (t("sources.datasource.scan"), "s"),
            "datasource.write_s": (t("sources.datasource.write_batches"), "s"),
            "codec.decode_s": (t("functions.codec.decode_noop"), "s"),
            "codec.encode_s": (t("functions.codec.encode_noop"), "s"),
            "codec.rows_kept_ratio": (self.kept_ratio, "ratio"),
            "spark.backfill_tasks": (self.back_tasks, "count"),
            "spark.publish_tasks": (self.pub_tasks, "count"),
            "bulk.publish_msgs_per_s": (self.n["publish"] / self.pub_s, "msgs/s"),
            "bulk.backfill_msgs_per_s": (self.n["backfill"] / self.back_s, "msgs/s"),
        })
