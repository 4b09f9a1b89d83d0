"""The ETL workloads: CalTopo source → decode → transform → folder
join → idempotent sink, against the counting servers.

One timed run is one ``submit_idempotent`` of the full pipeline over
every map, from the read to the sink having acknowledged every
feature.  The traced run splits that wall by prefix materialization:
each prefix of the chain is written to ``noop`` and a layer's self time
is the difference between consecutive prefixes; the sink's is the
submit minus the full-chain prefix.
"""

from __future__ import annotations

import statistics
import sys
import time

import envelopes
from envelopes import Corpus, check_delivery
from probes import PeakRss, SparkCalls, environment
from servers import MapServer, SinkServer

#: workload -> (maps, features per map)
SHAPES = {
    # many small maps: cost is per map (one partition and GET per map,
    # Spark task and Python-worker round trips); ~1.1k delivered
    # features stay under ``sink.DRIVER_COLLECT_MAX``, so the sink takes
    # the driver-collect single-POST path
    "etl_fanout": (8, 150),
    # few large maps: cost is per byte; ~11.3k delivered features are
    # above ``sink.DRIVER_COLLECT_MAX``, so the sink takes the
    # per-partition POST path
    "etl_bulk": (4, 3000),
}
#: set-ups per process; ``setup_s`` is their median
SETUPS = 3
#: timed runs per process, at the least; ``wall_s`` is their median
MIN_RUNS = 2
#: traced row counts the generator predicts (metric -> ``Corpus`` field)
GENERATED_COUNTS = {
    "decode.rows": "features",
    "joins.folder_rows": "folders",
}


class EtlBench:
    def __init__(self, spark, corpus: Corpus) -> None:
        self.spark = spark
        self.corpus = corpus
        self.maps = MapServer(corpus.bodies)
        self.sink = SinkServer()
        self.sink_url = f"{self.sink.url}/api/v1/layer/perfbench/submit"

    def close(self) -> None:
        self.maps.close()
        self.sink.close()

    def source(self):
        return (
            self.spark.read.format("caltopo")
            .option("shareIds", ",".join(self.corpus.share_ids))
            .option("baseUrl", self.maps.url)
            .load()
        )

    def submit(self) -> tuple[float, int]:
        """One timed run: the pipeline submitted to the sink."""
        from etl_caltopo_spark.caltopo.pipeline import run_pipeline
        from etl_caltopo_spark.caltopo.sink import submit_idempotent, urllib_header_poster

        self.sink.reset()
        self.maps.reset()
        t0 = time.perf_counter()
        n = submit_idempotent(run_pipeline(self.source()), self.sink_url, urllib_header_poster)
        return time.perf_counter() - t0, n

    def check(self, returned: int) -> list[str]:
        """Output check of the last submit (outside the timed region):
        the delivery, and the one refused POST having been retried."""
        problems = check_delivery(self.corpus, self.sink.features(), returned)
        if self.sink.retries != 1:
            problems.append(f"sink served {self.sink.retries} 503s, expected 1")
        return problems

    # --- traced run ----------------------------------------------------

    def _prefixes(self):
        from etl_caltopo_spark.caltopo.decode import decode_envelope
        from etl_caltopo_spark.caltopo.transform import (
            attach_folder_paths,
            drop_null_geometry,
            split_folders,
            to_input_features,
        )

        loaded = self.source()
        decoded = decode_envelope(loaded)
        folders, rest = split_folders(decoded)
        shaped = to_input_features(drop_null_geometry(rest))
        joined = attach_folder_paths(shaped, folders)
        return {
            "datasource": loaded,
            "decode": decoded,
            "transform": shaped,
            "joins": joined,
        }, folders

    def trace(self, calls: SparkCalls) -> tuple[dict[str, float], list[str]]:
        """One traced pass: the prefixes, then the full submit, then the
        sink's count on its own.  Returns the per-layer metrics and the
        output check of the traced submit and of the layers' row counts
        against the generator's."""
        prefixes, folders = self._prefixes()
        self_s: dict[str, float] = {}
        before = 0.0
        for layer, frame in prefixes.items():
            with calls.group(layer):
                t0 = time.perf_counter()
                frame.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
            self_s[layer] = dt - before
            before = dt
        with calls.group("run"):
            wall, n = self.submit()
        maps, sink = self.maps, self.sink
        gets = sum(maps.gets.values())
        service_ms = sorted(s * 1e3 for s in maps.service_s)
        delivered = sink.features()
        problems = self.check(n)
        with calls.group("sink.count"):
            t0 = time.perf_counter()
            prefixes["joins"].count()
            count_s = time.perf_counter() - t0
        out = {
            "datasource.gets": gets,
            "datasource.gets_per_map": gets / len(self.corpus.share_ids),
            "datasource.mb": maps.bytes / 1e6,
            "datasource.get_p50_ms": statistics.median(service_ms),
            "datasource.get_p99_ms": service_ms[min(len(service_ms) - 1, int(0.99 * len(service_ms)))],
            "datasource.s": self_s["datasource"],
            "decode.s": self_s["decode"],
            "decode.rows": prefixes["decode"].count(),
            "transform.s": self_s["transform"],
            "joins.s": self_s["joins"],
            "joins.folder_rows": folders.count(),
            "joins.matched_share": sum(
                1 for f in delivered if f["properties"].get("path") is not None
            ) / max(len(delivered), 1),
            "sink.s": wall - before,
            "sink.count_s": count_s,
            "sink.posts": sink.posts,
            "sink.mb": sink.bytes / 1e6,
            "sink.features_per_post": len(delivered) / max(len(sink.accepted), 1),
            "sink.retries": sink.retries,
            "sink.dup_posts": sink.dup_posts,
            "sink.server_busy_s": sink.busy_s,
            # the layer self times add up to the traced submit's wall
            "trace.self_s": wall,
        }
        out.update({f"spark.{k}": v for k, v in calls.totals(["run"]).items()})
        for name, field in GENERATED_COUNTS.items():
            generated = getattr(self.corpus, field)
            if out[name] != generated:
                problems.append(f"{name}: {out[name]} != {generated} generated")
        return out, problems


def run_etl(state, build_session) -> tuple[dict[str, float], dict]:
    """Set up ``SETUPS`` times, then time runs for ``--seconds``, then
    (with ``--trace 1``) make one traced pass.  ``build_session()``
    returns the process's one session, which the caller stops."""
    args = state.args
    corpus = envelopes.generate(args.seed, *SHAPES[args.workload])
    expected = len(corpus.expected)
    checks = expected + 1  # every expected feature, and the retried POST

    # one set-up: the session build, servers and one warm-up run.  The
    # first also starts the JVM and registers the datasource; the later
    # ones get the running session back, so ``setup_s`` (the median) is
    # a set-up on a running session and ``setup.first_s`` the cold one.
    from etl_caltopo_spark.caltopo.datasource import register

    setups = []
    bench = None
    try:
        for i in range(SETUPS):
            if bench is not None:
                bench.close()
            t0 = time.perf_counter()
            spark = build_session()
            if i == 0:
                register(spark)
            bench = EtlBench(spark, corpus)
            _, n = bench.submit()
            setups.append(time.perf_counter() - t0)
            state.tally(checks, bench.check(n))

        walls = []
        with PeakRss() as rss:
            deadline = time.perf_counter() + args.seconds
            while len(walls) < MIN_RUNS or time.perf_counter() < deadline:
                wall, n = bench.submit()
                walls.append(wall)
                state.tally(checks, bench.check(n))
        wall = statistics.median(walls)
        print(f"perfbench: set-ups {setups}, timed runs {walls}", file=sys.stderr)
        values = {
            "setup_s": statistics.median(setups),
            "wall_s": wall,
            "features_per_s": expected / wall,
            "setup.first_s": setups[0],
            "peak_rss_mb": rss.peak / 2**20,
        }
        if args.trace:
            layers, problems = bench.trace(SparkCalls(bench.spark))
            state.tally(checks + len(GENERATED_COUNTS), problems)
            layers["trace.unattributed_s"] = wall - layers.pop("trace.self_s")
            values.update(layers)
        return values, environment(bench.spark)
    finally:
        if bench is not None:
            bench.close()
