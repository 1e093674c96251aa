"""etl-routes: the write stages on a generated route corpus.

One round runs the four steps below on a fresh output directory and an empty
table, each timed on its own; ``round_s`` is the sum of their medians:

- ``process``: ``pipelines.process_routes.run`` writing the GeoJSON sink;
- ``load``: ``pipelines.load_routes.load`` of the corpus into the empty table;
- ``reload``: the same load again, which must append 0 rows;
- ``delta``: a load of the delta delivery, which must append exactly its new keys.

Every round's outputs are checked outside the timed steps. The GeoJSON scan,
the reprojection ``pandas_udf``, the explode/regroup shuffle, the sinks and the
load's anti-join do the work; ``serve`` and ``queries`` sit idle.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

import gen_routes

N_ROUTES = 1500
# on a 4-CPU host the first round after start-up runs about three times
# slower than later ones and the second about 20 % slower. The third, the
# first measured, is still a few per cent slower; one more warm-up round
# would add about 6 s to every run.
WARM_ROUNDS = 2
MIN_ROUNDS = 2
STEPS = ("process", "load", "reload", "delta")


def generate(seed: int, work: str) -> dict:
    return {
        "corpus": gen_routes.generate(os.path.join(work, f"routes-{seed}-{N_ROUTES}"),
                                      seed, N_ROUTES),
        # a corpus of the same size from another seed warms the JVM and the
        # Python workers on the same code paths and volumes
        "warm": gen_routes.generate(os.path.join(work, f"routes-{seed + 1}-{N_ROUTES}"),
                                    seed + 1, N_ROUTES),
    }


class Bench:
    def __init__(self, spark, inputs: dict, work: str, log):
        from transit_scrape_spark.pipelines import load_routes, process_routes

        self.spark, self.log = spark, log
        self.corpus: gen_routes.Corpus = inputs["corpus"]
        self.warm_corpus: gen_routes.Corpus = inputs["warm"]
        self.process_routes, self.load_routes = process_routes, load_routes
        self.attempted = self.failed = 0
        self.rounds = 0
        self.stored_bytes = 0
        self.appended = 0  # rows the last round's three loads appended
        self.base = os.path.join(work, "etl-out")
        self.table = os.path.join(self.base, "cycling_routes.parquet")

    # -- one round --------------------------------------------------------

    def _round(self, corpus: gen_routes.Corpus, tracer) -> dict[str, float]:
        self.rounds += 1
        shutil.rmtree(self.base, ignore_errors=True)
        out, table = os.path.join(self.base, "processed"), self.table
        rid = f"round{self.rounds}"
        t: dict[str, float] = {}
        appended = {}

        t0 = time.perf_counter()
        with tracer.span("pipelines.process_routes.run", f"{rid}.process"):
            self.process_routes.run(self.spark, corpus.corpus_glob, out, "geojson")
        t["process"] = time.perf_counter() - t0
        for step, src in (("load", corpus.corpus_glob), ("reload", corpus.corpus_glob),
                          ("delta", corpus.delta_glob)):
            t0 = time.perf_counter()
            with tracer.span("pipelines.load_routes.load", f"{rid}.{step}"):
                appended[step] = self.load_routes.load(self.spark, src, table)
            t[step] = time.perf_counter() - t0

        self._check(corpus, out, table, appended)
        self.appended = sum(appended.values())
        self.stored_bytes = _dir_bytes(out) + _dir_bytes(table)
        return t

    def _check(self, corpus: gen_routes.Corpus, out: str, table: str, appended: dict) -> None:
        import duckdb

        problems = []
        ids, outside = [], 0
        lon_lo, lon_hi = gen_routes.SCOTLAND_LON
        lat_lo, lat_hi = gen_routes.SCOTLAND_LAT
        for part in glob.glob(os.path.join(out, "part-*")):
            with open(part) as fh:
                for line in fh:
                    f = json.loads(line)
                    ids.append(f["properties"]["route_id"])
                    outside += sum(
                        not (lon_lo <= x <= lon_hi and lat_lo <= y <= lat_hi)
                        for x, y in f["geometry"]["coordinates"])
        if sorted(ids) != sorted(corpus.route_ids):
            problems.append(f"process: {len(ids)} routes written, expected {corpus.n_valid}")
        if outside:
            problems.append(f"process: {outside} vertices outside the Scotland envelope")
        want = {"load": corpus.n_valid, "reload": 0, "delta": corpus.n_delta_new}
        for step, n in want.items():
            if appended[step] != n:
                problems.append(f"{step}: appended {appended[step]}, expected {n}")
        con = duckdb.connect()
        got = con.execute(
            f"SELECT count(*), count(DISTINCT route_id), count(created_at), "
            f"count(*) FILTER (WHERE source_file = '{gen_routes.CORRUPT_FILE}') "
            f"FROM read_parquet('{table}/*.parquet')").fetchone()
        n_rows = corpus.n_valid + corpus.n_delta_new
        if got != (n_rows, n_rows, n_rows, 0):
            problems.append(f"table: (rows, keys, stamped, from the corrupt file) = {got}, "
                            f"expected {n_rows} each and 0")
        new = {r[0] for r in con.execute(
            f"SELECT route_id FROM read_parquet('{table}/*.parquet')").fetchall()}
        if new - set(corpus.route_ids) != set(corpus.delta_new_ids):
            problems.append("delta: appended keys differ from the delivery's new keys")
        con.close()
        self._record(len(STEPS), problems)

    def _record(self, attempted: int, problems: list[str]) -> None:
        self.attempted += attempted
        self.failed += min(len(problems), attempted)
        for p in problems:
            self.log(f"WRONG {p}")

    # -- phases -----------------------------------------------------------

    def warm(self, tracer) -> None:
        for _ in range(WARM_ROUNDS):
            t = self._round(self.warm_corpus, tracer)
            self.log(f"warm-up round: { {k: round(v, 4) for k, v in t.items()} }")

    def measure(self, seconds: float, tracer) -> dict[str, list[float]]:
        samples: dict[str, list[float]] = {s: [] for s in STEPS}
        rounds_before = self.rounds
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or len(samples["process"]) < MIN_ROUNDS:
            for step, dt in self._round(self.corpus, tracer).items():
                samples[step].append(dt)
        med = {s: statistics.median(v) for s, v in samples.items()}
        self.rounds_measured = self.rounds - rounds_before
        self.routes_per_s = self.corpus.n_valid / (med["process"] + med["load"])
        return samples

    def staged(self, tracer) -> dict[str, float]:
        """Per-layer actions timed in isolation on the measured corpus."""
        from pyspark.sql import functions as F

        from transit_scrape_spark.functions.geo import (
            linestring_length, linestring_to_wkt, reproject_bng_to_wgs84_udf)
        from transit_scrape_spark.sources.geojson import read_geojson_features
        from transit_scrape_spark.sources.sinks import write_geojson

        m: dict[str, float] = {}

        def timed(name: str, fn) -> float:
            dts = []
            for _ in range(2):
                t0 = time.perf_counter()
                with tracer.span(name, f"staged.{name}"):
                    fn()
                dts.append(time.perf_counter() - t0)
            return min(dts)

        m["sources.geojson_scan_s"] = timed(
            "sources.read_geojson_features",
            lambda: read_geojson_features(self.spark, self.corpus.corpus_glob).count())
        feats = read_geojson_features(self.spark, self.corpus.corpus_glob).cache()
        feats.count()
        processed = self.process_routes.process_route_features(feats).cache()
        processed.count()
        vertices = feats.select(F.posexplode("coordinates").alias("pos", "v")).select(
            F.col("v")[0].alias("e"), F.col("v")[1].alias("n")).cache()
        n_vertices = vertices.count()
        sink = os.path.join(self.base, "staged-sink")
        m["sources.sink_geojson_s"] = timed(
            "sources.write_geojson", lambda: write_geojson(processed, sink))
        reproject = reproject_bng_to_wgs84_udf()
        m["functions.reproject_s"] = timed(
            "functions.reproject_bng_to_wgs84",
            lambda: _noop(vertices.select(reproject("e", "n").alias("ll"))))
        m["functions.reproject_vertices_per_s"] = n_vertices / m["functions.reproject_s"]
        m["functions.linestring_length_s"] = timed(
            "functions.linestring_length",
            lambda: _noop(feats.select(linestring_length(F.col("coordinates")))))
        m["functions.linestring_to_wkt_s"] = timed(
            "functions.linestring_to_wkt",
            lambda: _noop(feats.select(linestring_to_wkt(F.col("coordinates")))))
        for df in (vertices, processed, feats):
            df.unpersist()
        return m

    def layer_metrics(self, tracer) -> dict[str, float]:
        m: dict[str, float] = {}
        runs = tracer.by_name("pipelines.process_routes.run")
        loads = tracer.by_name("pipelines.load_routes.load")
        m["pipelines.process_routes.run_s"] = _median([s.wall_s for s in runs])
        m["pipelines.process_routes.shuffle_write_bytes"] = _median(
            [tracer.inclusive(s, "shuffle_write_bytes") for s in runs])
        for step in ("load", "reload", "delta"):
            m[f"pipelines.load_routes.{step}_s"] = _median(
                [s.wall_s for s in loads if s.request.endswith(f".{step}")])
        # useful / attempted: rows one round's three loads appended over the
        # records their scans read
        scanned = sum(tracer.inclusive(s, "input_records") for s in loads) / self.rounds_measured
        m["pipelines.load_routes.appended_over_scanned"] = self.appended / scanned if scanned else 0.0
        m["sources.parquet_bytes_written"] = _dir_bytes(self.table)
        m["sources.stored_bytes_per_input_byte"] = self.stored_bytes / self.corpus.input_bytes
        m["pipelines.routes_per_s"] = self.routes_per_s
        return m


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if not f.startswith((".", "_")))
