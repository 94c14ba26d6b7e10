"""analytics_suite: the bench.HEADLINE registry queries, each run cold.

Each query is timed end to end: the build (`REGISTRY[name].fn`) plus an
action that returns the rows (`toPandas`). Before each query the SQL cache
is cleared and every RDD still persisted is unpersisted. The one measured
pass runs in a fresh session, in bench.HEADLINE order, so each query also
pays the first-use costs (class loading, code generation, Python workers)
that a new session pays. The tables are a byte copy of the project's
sf0.01 test fixture (data/sf0.01, 60k lineitem rows; the oracle tests use
this scale), so the suite reads fixture data from inside the checkout. Every result
is compared with its DuckDB oracle (computed once per run, after timing)
through plans.oracle.compare_frames.
"""

from __future__ import annotations

import math
import os
import statistics
import time

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


class AnalyticsSuite:
    def __init__(self, run):
        self.run = run
        self.sf_dir = SF_DIR
        self.cold: dict[str, tuple[float, float, int, int]] = {}
        self.results = {}
        self.tmp_new = 0

    def generate(self):
        from bench import HEADLINE

        self.names = list(HEADLINE[:4] if self.run.smoke else HEADLINE)

    def clean(self):
        """Clear the SQL cache and unpersist every RDD left persisted."""
        spark = self.run.spark
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def persisted(self) -> int:
        return self.run.spark.sparkContext._jsc.getPersistentRDDs().size()

    def one(self, name: str):
        """Build and run one query cold; returns (build_s, exec_s,
        build_jobs, rdds left persisted, rows as pandas)."""
        from rocketmq_flink_spark.plans.catalog import REGISTRY

        run = self.run
        self.clean()
        group = f"build-{name}"
        with run.job_group(group):
            t0 = time.perf_counter()
            with run.span("plans.catalog.build"):
                df = REGISTRY[name].fn(run.spark, self.sf_dir)
            t1 = time.perf_counter()
        with run.span("operators.execute"):
            pdf = df.toPandas()
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1, len(run.spark.sparkContext.statusTracker()
                                       .getJobIdsForGroup(group)), self.persisted(), pdf

    def warm_up(self):
        """None: the measured pass is the session's first work."""

    def measure(self):
        """One cold pass, whatever `--seconds` asks: a later pass in the same
        session would measure a warm one."""
        run = self.run
        tmp = os.environ["TMPDIR"]
        before = set(os.listdir(tmp))
        for name in self.names:
            build, exe, jobs, left, self.results[name] = self.one(name)
            self.cold[name] = (build, exe, jobs, left)
        self.tmp_new = len(set(os.listdir(tmp)) - before)
        self.clean()
        self.check()

        total = sum(b + e for b, e, _, _ in self.cold.values())
        # geometric mean, as TPC power metrics use: every query weighs the
        # same and one noisy query near the middle cannot move it alone
        run.e2e["latency_ms"] = (
            math.exp(statistics.fmean(math.log(b + e) for b, e, _, _ in self.cold.values()))
            * 1000, "ms")
        run.e2e["throughput_per_s"] = (len(self.names) / total, "1/s")
        run.info["suite_e2e_s"] = (total, "s")
        self.layers()

    def check(self):
        from rocketmq_flink_spark.plans.catalog import REGISTRY
        from rocketmq_flink_spark.plans.oracle import compare_frames, duck_connect

        con = duck_connect(self.sf_dir)
        try:
            for name in self.names:
                oracle = con.execute(REGISTRY[name].oracle).df()
                if self.run.wrong_expected:
                    oracle = oracle.iloc[:-1]
                rep = compare_frames(name, self.results[name], oracle)
                self.run.check(name, rep.ok, str(rep))
        finally:
            con.close()

    def probe(self):
        """The per-layer numbers come from the measured pass itself."""

    def layers(self):
        cold = self.cold
        layers = self.run.layers
        sums = [sum(v[i] for v in cold.values()) for i in range(4)]
        layers.update({
            "suite.e2e_s": (sums[0] + sums[1], "s"),
            "suite.build_s": (sums[0], "s"),
            "suite.exec_s": (sums[1], "s"),
            "suite.build_jobs": (sums[2], "count"),
            "suite.persisted_rdds_left": (sums[3], "count"),
            "suite.tmp_entries_left": (self.tmp_new, "count"),
        })
        for name, (build, exe, jobs, _) in cold.items():
            layers[f"query.{name}.build_s"] = (build, "s")
            layers[f"query.{name}.exec_s"] = (exe, "s")
            layers[f"query.{name}.build_jobs"] = (jobs, "count")
