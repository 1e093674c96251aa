"""analytics-mix: the 12 headline registry ops on a generated warehouse.

The op list is ``bench.HEADLINE``, so figures stay comparable with the
historical sweep files. Each timed execution materialises every output
column through the ``noop`` sink. The first, untimed pass collects each op's
result and compares it with the op's DuckDB oracle the way
``tests/oracle_harness.py`` does, on one thread per core.

The first two sequential passes after the check run markedly slower than
later ones (about 25 % and 10 % on a 4-CPU host), so they are untimed warm-up;
passes run in parallel warm up less. The measured phase runs further
sequential passes until ``--seconds`` have passed, at least one, and takes
per-op medians.
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import gen_tables

SF = 0.01
# significant digits floats are compared to, as in the repository's skew
# parity tests: sums of cent-valued products rounded to the cent (tpch-q3's
# revenue) can differ by one cent with the engines' summation order
FLOAT_SIG = 7
WARM_PASSES = 2
MIN_PASSES = 1


def generate(seed: int, work: str) -> dict:
    return {"dir": gen_tables.generate(os.path.join(work, f"tables-{seed}-{SF}"), seed, SF)}


class Bench:
    def __init__(self, spark, inputs: dict, work: str, log):
        from bench import HEADLINE
        from transit_scrape_spark.queries.registry import registry

        self.spark, self.log, self.dir = spark, log, inputs["dir"]
        self.ops = list(HEADLINE)
        specs = registry()
        self.specs = {op: specs[op] for op in self.ops}
        self.attempted = self.failed = 0
        self._pass_id = 0

    def _check_one(self, op: str, con) -> str | None:
        from tests.oracle_harness import compare

        try:
            compare(self.specs[op].fn(self.spark, self.dir), con, self.specs[op].oracle, op,
                    float_sig=FLOAT_SIG)
        except Exception as e:  # a wrong or failed op is counted, the pass goes on
            return f"{op}: {e!r}"[:2000]
        return None

    def warm(self, tracer) -> None:
        """The oracle check on one thread per core, then WARM_PASSES untimed
        sequential passes."""
        from tests.oracle_harness import duck_conn

        from transit_scrape_spark.session import release_caches

        con = duck_conn(self.dir)
        with ThreadPoolExecutor(int(os.environ["SPARK_GRAFT_CPUS"])) as pool:
            # each thread gets its own DuckDB cursor; one connection is not
            # safe to share between threads
            problems = list(pool.map(lambda op: self._check_one(op, con.cursor()), self.ops))
        con.close()
        release_caches(self.spark)
        self.attempted += len(self.ops)
        for p in problems:
            if p is not None:
                self.failed += 1
                self.log(f"WRONG {p}")
        for _ in range(WARM_PASSES):
            self._pass(tracer, None)

    def _run(self, op: str, rid: str, tracer) -> float | None:
        """One timed execution; returns seconds, or None if the op raised."""
        t0 = time.perf_counter()
        try:
            with tracer.span(f"queries.{op}", rid):
                self.specs[op].fn(self.spark, self.dir).write.format("noop").mode(
                    "overwrite").save()
        except Exception as e:  # counted as failed; the caller goes on
            self.log(f"FAILED {op}: {e!r}")
            self.failed += 1
            return None
        finally:
            self.attempted += 1
        return time.perf_counter() - t0

    def _pass(self, tracer, samples: dict[str, list[float]] | None) -> None:
        from transit_scrape_spark.session import release_caches

        self._pass_id += 1
        for op in self.ops:
            dt = self._run(op, f"pass{self._pass_id}.{op}", tracer)
            if dt is not None and samples is not None:
                samples[op].append(dt)
            with tracer.span("session.release_caches", f"pass{self._pass_id}.{op}"):
                release_caches(self.spark)

    def measure(self, seconds: float, tracer) -> dict[str, list[float]]:
        samples: dict[str, list[float]] = {op: [] for op in self.ops}
        deadline = time.perf_counter() + seconds
        n_pass = 0
        while time.perf_counter() < deadline or n_pass < MIN_PASSES:
            n_pass += 1
            self._pass(tracer, samples)
        return samples

    def staged(self, tracer) -> dict[str, float]:
        from pyspark.sql import functions as F

        from transit_scrape_spark.operators.dedup import shingle_hash_rows, signature_columns
        from transit_scrape_spark.queries.minhash import NUM_PERM
        from transit_scrape_spark.sources.tables import load_table

        corpus = (load_table(self.spark, self.dir, "documents")
                  .filter(F.col("text").isNotNull()).select("doc_id", "text"))
        dts = []
        for i in range(2):
            t0 = time.perf_counter()
            with tracer.span("operators.minhash_signature", f"staged.minhash{i}"):
                shingle_hash_rows(corpus).groupBy("doc_id").agg(
                    *signature_columns(NUM_PERM)).write.format("noop").mode("overwrite").save()
            dts.append(time.perf_counter() - t0)
        return {"operators.minhash_signature_s": min(dts)}

    def layer_metrics(self, tracer) -> dict[str, float]:
        m: dict[str, float] = {}
        for op in self.ops:
            spans = tracer.by_name(f"queries.{op}")
            if spans:
                m[f"queries.{op}_s"] = statistics.median(s.wall_s for s in spans)
                m[f"queries.{op}.tasks"] = statistics.median(
                    tracer.inclusive(s, "tasks") for s in spans)
        return m
