"""Engine side of the benchmark: one process that owns the Spark session.

Started by `run.py` with the checkout root on PYTHONPATH. It sets the
workload up, reports ready, serves or runs the timed work on command and
reports what it measured. Messages to the harness are stdout lines that
start with "@@" followed by JSON; commands arrive on stdin, one per line:

    trace on|off   switch span recording (traced runs only)
    stop           finish and report

Usage (normally via run.py):
    python3 perfbench/engine.py --workload snapshot_load --work DIR [--trace]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

from explora_kafka_spark import api, server
from explora_kafka_spark.functions import geo
from explora_kafka_spark.plans import query as Q
from explora_kafka_spark.plans import views as V
from explora_kafka_spark.session import get_spark
from explora_kafka_spark.streaming import pipeline as P

from perfbench.spans import Tracer, patch

#: view resolutions the requests use (month is never queried)
RESOLUTIONS = ("min", "hour", "day")
#: the engine's fixed "now": end of the generated window
NOW_MS = 1567209600000 + 36 * 3600 * 1000

def emit(**msg) -> None:
    sys.stdout.write("@@" + json.dumps(msg) + "\n")
    sys.stdout.flush()


class Engine:
    def __init__(self, args):
        self.args = args
        self.work = args.work
        self.spark = get_spark("perfbench")
        self.tracer = Tracer() if args.trace else None
        self.requests: list[dict] = []  # per-request counters (traced)
        if self.tracer is not None:
            self._instrument()

    # -- tracing -------------------------------------------------------------

    def _instrument(self) -> None:
        """Wrap the public functions each layer exposes. Module attributes
        are replaced, so callers that look them up at call time (every
        caller inside the engine does) go through the wrapper."""
        import py4j.java_gateway as gw

        tr = self.tracer
        sc = self.spark.sparkContext

        def span(name, count=None):
            return lambda fn: tr.wrap(fn, name, count=count)

        orig_send = gw.GatewayClient.send_command

        def send_command(client, *a, **kw):
            if tr.enabled:
                tr.count_py4j()
            return orig_send(client, *a, **kw)

        patch(gw.GatewayClient, "send_command", lambda _: send_command)

        def request_root(fn):
            def handle(lattice, metric_id, aggregate, params, *a, **kw):
                rid = params.get("rid")
                if not tr.enabled:
                    return fn(lattice, metric_id, aggregate, params, *a, **kw)
                sc.setJobGroup(f"rid-{rid}", "perfbench request")
                cpu0 = time.thread_time()
                sp = tr.open(f"api.{fn.__name__}", rid)
                try:
                    return fn(lattice, metric_id, aggregate, params, *a, **kw)
                finally:
                    tr.close(sp)
                    self._job_counts(f"rid-{rid}", rid, time.thread_time() - cpu0)
            handle.__name__ = fn.__name__
            return handle

        # the session's concrete DataFrame class: pyspark's classic one
        # overrides the methods of the public base class
        frame = type(self.spark.range(0))
        for obj, attr, wrapper in [
            (api, "handle_history", request_root),
            (api, "handle_snapshot", request_root),
            (api, "validate_history", span("api.validate")),
            (api, "validate_snapshot", span("api.validate")),
            (api, "message_envelope", span("api.envelope")),
            (geo, "geohash_cover_bbox", span("geo.cover", count=len)),
            (geo, "quadkey_cover_bbox", span("geo.cover", count=len)),
            (geo, "compress_cover", span("geo.cover")),
            (Q, "adaptive_cover_precision", span("geo.cover")),
            (Q, "adaptive_cover_zoom", span("geo.cover")),
            (Q, "history", span("query.plan")),
            (Q, "history_interval", span("query.plan")),
            (Q, "snapshot", span("query.plan")),
            (Q, "snapshot_bbox_geohashing", span("query.plan")),
            (Q, "snapshot_bbox_quadtiling", span("query.plan")),
            (frame, "collect", span("spark.collect")),
            (P.ParquetViewStore, "merge_readings", span("pipeline.merge")),
            (V, "build_views", span("views.build")),
        ]:
            patch(obj, attr, wrapper)

    def _job_counts(self, group: str, rid, cpu_s: float) -> None:
        """Jobs, stages and tasks a job group ran, from the status tracker."""
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                sinfo = st.getStageInfo(s)
                stages += 1
                tasks += sinfo.numTasks if sinfo else 0
        self.requests.append({"rid": rid, "group": group, "jobs": len(jobs),
                              "stages": stages, "tasks": tasks, "cpu_s": cpu_s})

    # -- commands ------------------------------------------------------------

    def command_loop(self) -> None:
        for line in sys.stdin:
            cmd = line.split()
            if not cmd:
                continue
            if cmd[0] == "trace" and self.tracer is not None:
                self.tracer.enabled = cmd[1] == "on"
            elif cmd[0] == "stop":
                return

    def profile(self) -> dict:
        sc = self.spark.sparkContext
        return {"spark": self.spark.version, "master": sc.master,
                "default_parallelism": sc.defaultParallelism,
                "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions")}

    def finish(self, **extra) -> None:
        spans = [s.to_dict() for s in self.tracer.spans] if self.tracer else []
        out = os.path.join(self.work, "engine_stats.json")
        with open(out, "w") as f:
            json.dump({"spans": spans, "requests": self.requests, **extra}, f)
        emit(event="stats", path=out)

    # -- workloads -----------------------------------------------------------

    def snapshot_load(self) -> None:
        readings = self.spark.read.parquet(os.path.join(self.work, "readings.parquet"))
        path = os.path.join(self.work, "views")
        t0 = time.perf_counter()
        V.build_views(readings, path, resolutions=RESOLUTIONS)
        ctx = server.EngineContext(self.spark.read.parquet(path), now_ms=NOW_MS)
        srv = server.serve(ctx)
        setup_s = time.perf_counter() - t0
        emit(event="ready", port=srv.server_address[1], setup_s=setup_s, views=path,
             profile=self.profile())
        self.command_loop()
        srv.shutdown()
        srv.server_close()
        self.finish()

    def ingest_live(self) -> None:
        spark = self.spark
        window = os.path.join(self.work, "readings.parquet")
        schema = spark.read.parquet(window).schema
        in_dir = os.path.join(self.work, "stream_in")
        os.makedirs(in_dir, exist_ok=True)
        # the generated window is the stream's first file: its first
        # micro-batch is the initial store merge
        os.link(window, os.path.join(in_dir, "window.parquet"))
        t0 = time.perf_counter()
        store = P.ParquetViewStore(os.path.join(self.work, "store"), keep_versions=3)
        stream = P.file_reading_stream(spark, in_dir, schema, max_files_per_trigger=10_000)
        query = (
            P.streaming_view_pipeline(stream, store, os.path.join(self.work, "ckpt"),
                                      resolutions=RESOLUTIONS)
            .trigger(processingTime="1 second").start()
        )
        while store.current_version() is None:
            if query.exception() is not None:
                raise RuntimeError(f"stream failed: {query.exception()}")
            time.sleep(0.01)
        ctx = server.EngineContext(store.read(spark), now_ms=NOW_MS)
        srv = server.serve(ctx)
        setup_s = time.perf_counter() - t0
        # merges the replay guard turns into no-ops return False
        skipped = [0]
        merge = store.merge_readings

        def counted_merge(*a, **kw):
            applied = merge(*a, **kw)
            skipped[0] += not applied
            return applied

        store.merge_readings = counted_merge

        done = threading.Event()

        def watch() -> None:
            # re-point the served lattice at every commit the store makes
            seen = store.current_version()
            while not done.is_set():
                v = store.current_version()
                if v != seen:
                    ctx.lattice = store.read(spark)
                    seen = v
                done.wait(0.01)

        watcher = threading.Thread(target=watch, daemon=True)
        watcher.start()
        emit(event="ready", port=srv.server_address[1], setup_s=setup_s,
             store=store.path, profile=self.profile())
        self.command_loop()
        done.set()
        watcher.join(timeout=10)
        progress = [
            {"batch": p["batchId"], "rows": p.get("numInputRows", 0),
             "durations": p.get("durationMs", {}), "timestamp": p.get("timestamp")}
            for p in (json.loads(x.json) for x in query.recentProgress)
        ]
        query.stop()
        srv.shutdown()
        srv.server_close()
        self.finish(progress=progress, skipped_batches=skipped[0],
                    current=store.current_version())


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("snapshot_load", "ingest_live"))
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args(argv)
    eng = Engine(args)
    try:
        # the harness writes the inputs while the session starts
        emit(event="session")
        if sys.stdin.readline().strip() != "begin":
            return
        getattr(eng, args.workload)()
    finally:
        eng.spark.stop()


if __name__ == "__main__":
    main()
