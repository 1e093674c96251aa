"""serve-app: replay of the reference Streamlit session on a loaded routes table.

Set-up generates the seed's route corpus and loads it into a table through
``pipelines.load_routes.load``, untimed and checked. Streamlit reruns the app
script top to bottom on every interaction, so one interaction is the whole
sequence below, each step timed on its own; ``round_s`` is the sum of the
step medians, one interaction:

1. ``sources.tables.load_table`` opens the routes table;
2. ``serve.get_local_authorities``, collected for the sidebar;
3. ``serve.load_cycling_routes`` for one authority, or ``None`` ("All");
4. ``functions.geo.wkt_to_linestring`` on the result's WKT;
5. ``serve.prepare_map_rows``;
6. ``serve.map_center``;
7. ``toPandas()`` at the visualisation edge.

Authorities are picked the way users would pick them, the large ones more
often: zipf over the authorities ranked by their number of routes, and "All"
one time in seven. A step's cost grows with the rows the pick returns, so
every client draws its picks from a fixed cycle of 14 (2 "All", 12 zipf
quantiles), shuffled with the seed on every pass, and the measured phase runs
whole cycles: every seed measures the same mix.

``measure`` runs one closed-loop client. Each call does little work, so
planning, job scheduling and py4j round trips dominate; the route pipelines
and ``queries`` sit idle. Every interaction's output is checked against DuckDB
over the table's parquet files after the phase. Traced runs also measure,
untraced, one client thread per core sharing the session, and time the
driver-side planning of the interaction's final query on its own.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

import numpy as np

import etl
import gen_routes

ALL_PER_CYCLE, AUTHORITIES_PER_CYCLE = 2, 12
ZIPF_S = 1.1
# warm-up runs one client thread per core: single-client latency keeps
# falling for a dozen or more interactions after start-up, and parallel
# clients reach the steady state sooner
WARM_S = 7.0
MULTI_CLIENT_S = 5.0
PLAN_SAMPLES = 9
STEPS = ("load_table", "get_local_authorities", "load_cycling_routes",
         "wkt_to_linestring", "prepare_map_rows", "map_center", "to_pandas")


def generate(seed: int, work: str) -> dict:
    return {"seed": seed, "corpus": gen_routes.generate(
        os.path.join(work, f"routes-{seed}-{etl.N_ROUTES}"), seed, etl.N_ROUTES)}


class Bench:
    """Serves the table at ``<base>/cycling_routes.parquet``."""

    def __init__(self, spark, inputs: dict, work: str, log):
        from transit_scrape_spark.pipelines import load_routes

        self.spark, self.seed, self.log = spark, inputs["seed"], log
        self.base = os.path.join(work, "serve-table")
        self.table = os.path.join(self.base, "cycling_routes.parquet")
        self.n_clients = int(os.environ["SPARK_GRAFT_CPUS"])
        self.attempted = self.failed = 0
        self._lock = threading.Lock()
        self._results: list[tuple] = []
        self._interactions = 0
        self.rows_returned = 0

        corpus: gen_routes.Corpus = inputs["corpus"]
        shutil.rmtree(self.base, ignore_errors=True)
        loaded = load_routes.load(spark, corpus.corpus_glob, self.table)
        self.attempted += 1
        if loaded != corpus.n_valid:
            self.failed += 1
            log(f"WRONG set-up loaded {loaded} routes, expected {corpus.n_valid}")
        self.cycle = _cycle(self.table)

    # -- one interaction --------------------------------------------------

    def _query(self, choice: str | None, step) -> tuple:
        """Steps 1-6 of one interaction for the authority ``choice``; returns
        the authority list, the map rows' DataFrame and the map centre."""
        from pyspark.sql import functions as F

        from transit_scrape_spark import serve
        from transit_scrape_spark.functions.geo import wkt_to_linestring
        from transit_scrape_spark.sources.tables import load_table

        routes = step("load_table", "sources.load_table",
                      lambda: load_table(self.spark, self.base, "cycling_routes"))
        authorities = step("get_local_authorities", "serve.get_local_authorities",
                           lambda: [r[0] for r in serve.get_local_authorities(routes).collect()])
        df = step("load_cycling_routes", "serve.load_cycling_routes",
                  lambda: serve.load_cycling_routes(routes, choice))
        df = step("wkt_to_linestring", "functions.wkt_to_linestring",
                  lambda: df.withColumn("coordinates", wkt_to_linestring(F.col("geometry_wkt"))))
        rows = step("prepare_map_rows", "serve.prepare_map_rows",
                    lambda: serve.prepare_map_rows(df))
        center = step("map_center", "serve.map_center", lambda: serve.map_center(rows))
        return authorities, rows, center

    def _interaction(self, choice: str | None, tracer, times: dict | None) -> None:
        with self._lock:
            self._interactions += 1
            rid = f"interaction{self._interactions}"
        t: dict[str, float] = {}

        def step(name: str, span: str, fn):
            t0 = time.perf_counter()
            with tracer.span(span, rid):
                out = fn()
            t[name] = time.perf_counter() - t0
            return out

        authorities, rows, center = self._query(choice, step)
        pdf = step("to_pandas", "serve.to_pandas", rows.toPandas)

        with self._lock:
            self._results.append((choice, tuple(authorities), tuple(pdf["route_id"]),
                                  center, _envelope_center(pdf)))
            if times is not None:
                self.rows_returned += len(pdf)
                for k, v in t.items():
                    times[k].append(v)

    def _picks(self, rng: np.random.Generator):
        """Endless authority picks: the cycle, reshuffled for every pass."""
        while True:
            for i in rng.permutation(len(self.cycle)):
                yield self.cycle[i]

    def _client(self, rng: np.random.Generator, more, tracer, times, counts,
                client: int = 0) -> None:
        """Closed loop: interactions while ``more(n)`` holds, n being the
        number run so far."""
        picks = self._picks(rng)
        n = 0
        while more(n):
            try:
                self._interaction(next(picks), tracer, times)
                counts[client] += 1
            except Exception as e:  # a failed interaction is counted, the client goes on
                self.log(f"FAILED interaction: {e!r}")
                with self._lock:
                    self.attempted += 1
                    self.failed += 1
            n += 1

    def _check(self) -> None:
        import duckdb

        con = duckdb.connect()
        src = f"read_parquet('{self.table}/*.parquet')"
        want_auth = tuple(r[0] for r in con.execute(
            f"SELECT DISTINCT local_authority FROM {src} WHERE local_authority IS NOT NULL "
            "ORDER BY 1").fetchall())
        expected: dict = {}
        with self._lock:
            results, self._results = self._results, []
        for choice, auth, ids, center, env_center in results:
            if choice not in expected:
                where = "" if choice is None else "WHERE local_authority = ?"
                expected[choice] = tuple(r[0] for r in con.execute(
                    f"SELECT route_id FROM {src} {where} ORDER BY route_id LIMIT 1000",
                    [] if choice is None else [choice]).fetchall())
            problems = []
            if auth != want_auth:
                problems.append("authority list differs from DuckDB")
            if ids != expected[choice]:
                problems.append(f"rows for {choice!r}: {len(ids)} in order differ from DuckDB")
            if not np.allclose(center, env_center, rtol=0, atol=1e-9):
                problems.append(f"map centre {center} != row envelope centre {env_center}")
            self.attempted += 1
            if problems:
                self.failed += 1
                self.log(f"WRONG {problems}")
        con.close()

    # -- phases -----------------------------------------------------------

    def _clients(self, phase: int, seconds: float, tracer) -> float:
        """One client thread per core for ``seconds``; returns interactions
        per second."""
        counts = [0] * self.n_clients
        start = time.perf_counter()
        deadline = start + seconds
        threads = [threading.Thread(target=self._client, args=(
            np.random.default_rng([self.seed, phase, c]),
            lambda n: time.perf_counter() < deadline, tracer, None, counts, c))
            for c in range(self.n_clients)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        rate = sum(counts) / (time.perf_counter() - start)
        self._check()
        return rate

    def warm(self, tracer) -> None:
        self._clients(0, WARM_S, tracer)

    def measure(self, seconds: float, tracer) -> dict[str, list[float]]:
        """Whole cycles until ``seconds`` have passed, at least one."""
        times: dict[str, list[float]] = {s: [] for s in STEPS}
        self.rows_returned = 0
        deadline = time.perf_counter() + seconds
        k = len(self.cycle)
        self._client(np.random.default_rng([self.seed, 1]),
                     lambda n: n < k or n % k or time.perf_counter() < deadline,
                     tracer, times, [0])
        self._check()
        return times

    def staged(self, tracer) -> dict[str, float]:
        """Measured untraced: the interaction rate of one client thread per
        core sharing the session, and the driver-side planning time of the
        interaction's final query (``executedPlan`` of a freshly built
        DataFrame, nothing executed)."""
        enabled, tracer.enabled = tracer.enabled, False
        try:
            multi_client_per_s = self._clients(2, MULTI_CLIENT_S, tracer)
            picks = self._picks(np.random.default_rng([self.seed, 3]))
            plan = []
            for _ in range(PLAN_SAMPLES):
                rows = self._query(next(picks), lambda name, span, fn: fn())[1]
                t0 = time.perf_counter()
                rows._jdf.queryExecution().executedPlan()
                plan.append(time.perf_counter() - t0)
        finally:
            tracer.enabled = enabled
        return {"serve.multi_client_per_s": multi_client_per_s,
                "serve.plan_s": statistics.median(plan)}

    def layer_metrics(self, tracer) -> dict[str, float]:
        spans = tracer.spans()
        serve_spans = [s for s in spans if s.request.startswith("interaction")]
        n = len({s.request for s in serve_spans})
        m: dict[str, float] = {}
        for name in ("get_local_authorities", "load_cycling_routes", "prepare_map_rows",
                     "map_center", "to_pandas"):
            m[f"serve.{name}_s"] = _median([s.wall_s for s in serve_spans
                                            if s.name == f"serve.{name}"])
        m["functions.wkt_to_linestring_s"] = _median(
            [s.wall_s for s in serve_spans if s.name == "functions.wkt_to_linestring"])
        m["sources.load_table_s"] = _median(
            [s.wall_s for s in serve_spans if s.name == "sources.load_table"])
        if n:
            total = {k: sum(s.counters.get(k, 0.0) for s in serve_spans)
                     for k in ("jobs", "tasks", "input_records")}
            m["serve.jobs_per_interaction"] = total["jobs"] / n
            m["serve.tasks_per_interaction"] = total["tasks"] / n
            m["serve.rows_scanned_per_row_returned"] = (
                total["input_records"] / max(self.rows_returned, 1))
        return m


def _cycle(table: str) -> list[str | None]:
    """One cycle of picks: ALL_PER_CYCLE times "All", and the authorities
    at AUTHORITIES_PER_CYCLE evenly spaced quantiles of a zipf distribution
    over the authorities ranked by their number of routes."""
    import duckdb

    con = duckdb.connect()
    ranked = [r[0] for r in con.execute(
        f"SELECT local_authority FROM read_parquet('{table}/*.parquet') "
        "WHERE local_authority IS NOT NULL GROUP BY 1 ORDER BY count(*) DESC, 1").fetchall()]
    con.close()
    cdf = np.cumsum(1.0 / np.arange(1, len(ranked) + 1) ** ZIPF_S)
    cdf /= cdf[-1]
    q = (np.arange(AUTHORITIES_PER_CYCLE) + 0.5) / AUTHORITIES_PER_CYCLE
    return [None] * ALL_PER_CYCLE + [ranked[i] for i in np.searchsorted(cdf, q)]


def _envelope_center(pdf) -> tuple[float, float]:
    env = pdf["envelope"]
    minx = min(e["minx"] for e in env)
    miny = min(e["miny"] for e in env)
    maxx = max(e["maxx"] for e in env)
    maxy = max(e["maxy"] for e in env)
    return ((minx + maxx) / 2.0, (miny + maxy) / 2.0)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
