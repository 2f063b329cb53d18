"""Per-layer metrics of a traced run.

Inputs: the spans and counters the engine recorded (engine_stats.json),
the Spark event log of the run, the harness's own client-side timings,
and the files the run left in its work directory. Every workload reports
the METRICS names; a layer the workload does not exercise reads 0.
Request layers are medians over the traced requests.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os

import pyarrow.parquet as pq

from perfbench.spans import Span, median, quantile, self_times

#: every per-layer metric, in the order printed, with its unit
METRICS: dict[str, str] = {
    "server.overhead_ms": "ms",
    "api.validate_ms": "ms",
    "api.envelope_ms": "ms",
    "geo.cover_ms": "ms",
    "geo.cover_cells": "count",
    "query.plan_ms": "ms",
    "query.py4j_calls": "count",
    "driver.cpu_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.queue_ms": "ms",
    "spark.input_bytes": "bytes",
    "spark.files_read": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_ms": "ms",
    "trace.path_share": "ratio",
    "views.build_s": "s",
    "views.rows": "count",
    "views.files": "count",
    "views.bytes": "bytes",
    "pipeline.merge_p50_s": "s",
    "pipeline.merge_p90_s": "s",
    "pipeline.trigger_wait_s": "s",
    "pipeline.batches": "count",
    "pipeline.rows_in": "count",
    "pipeline.linked_files": "count",
    "pipeline.skipped_batches": "count",
    "pipeline.store_files": "count",
    "pipeline.store_bytes": "bytes",
    "ingest.read_p50_ms": "ms",
    "ingest.generator_lateness_ms": "ms",
    "memory.peak_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
}
def _med(values) -> float:
    values = list(values)
    return median(values) if values else 0.0


def _spans(stats: dict) -> list[Span]:
    return [Span(**d) for d in stats.get("spans", [])]


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def event_log(work: str) -> dict[str, dict[str, float]]:
    """Job group -> summed task and job figures from the run's event log."""
    jobs: dict[int, tuple[str | None, int]] = {}
    stage_job: dict[int, int] = {}
    first_launch: dict[int, int] = {}
    exec_group: dict[int, str] = {}
    files_acc: set[int] = set()
    files_by_exec: dict[int, float] = {}
    out: dict[str, dict[str, float]] = {}

    def add(g, k, v):
        if g is not None:
            d = out.setdefault(g, {})
            d[k] = d.get(k, 0.0) + v

    def plan_metrics(node):
        for m in node.get("metrics", ()):
            if m.get("name") == "number of files read":
                files_acc.add(m["accumulatorId"])
        for c in node.get("children", ()):
            plan_metrics(c)

    # Spark 4 writes a directory per application (eventlog_v2_*) holding
    # events_* files; older versions write one file
    paths = [p for p in glob.glob(os.path.join(work, "events", "**"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    jobs[ev["Job ID"]] = (g, ev["Submission Time"])
                    for sid in ev.get("Stage IDs", ()):
                        stage_job[sid] = ev["Job ID"]
                    eid = props.get("spark.sql.execution.id")
                    if g is not None and eid is not None:
                        exec_group[int(eid)] = g
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    if job is None or job not in jobs:
                        continue
                    g = jobs[job][0]
                    launch = ev["Task Info"]["Launch Time"]
                    first_launch[job] = min(first_launch.get(job, launch), launch)
                    tm = ev.get("Task Metrics") or {}
                    add(g, "input_bytes", (tm.get("Input Metrics") or {}).get("Bytes Read", 0))
                    add(g, "shuffle_write_bytes",
                        (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
                    add(g, "spill_bytes",
                        tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0))
                    add(g, "executor_run_ms", tm.get("Executor Run Time", 0))
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plan_metrics(ev.get("sparkPlanInfo") or {})
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, val in ev.get("accumUpdates", ()):
                        if acc in files_acc:
                            eid = ev["executionId"]
                            files_by_exec[eid] = files_by_exec.get(eid, 0) + val
    for job, (g, submitted) in jobs.items():
        if job in first_launch:
            add(g, "queue_ms", max(0, first_launch[job] - submitted))
    for eid, n in files_by_exec.items():
        add(exec_group.get(eid), "files_read", n)
    return out


def _spark_per_op(stats: dict, groups: list[str], elog: dict) -> dict[str, float]:
    counters = {r["group"]: r for r in stats.get("requests", [])}
    per = [counters[g] for g in groups if g in counters]
    out = {
        "spark.jobs": _med(r["jobs"] for r in per),
        "spark.stages": _med(r["stages"] for r in per),
        "spark.tasks": _med(r["tasks"] for r in per),
        "driver.cpu_ms": _med(1000 * r["cpu_s"] for r in per),
    }
    for k in ("queue_ms", "input_bytes", "files_read", "shuffle_write_bytes",
              "spill_bytes", "executor_run_ms"):
        out[f"spark.{k}"] = _med(elog.get(g, {}).get(k, 0.0) for g in groups)
    return out


# ---------------------------------------------------------------------------
# request workloads
# ---------------------------------------------------------------------------


def request_layers(spans: list[Span], client_ms: dict[str, float]) -> dict[str, float]:
    """Per-request layer times from the spans of each request id; medians
    over the requests whose client latency is known."""
    selft = self_times(spans)
    by_id = {s.id: s for s in spans}
    by_rid: dict[str, list[Span]] = {}
    for s in spans:
        if s.rid is not None:
            by_rid.setdefault(s.rid, []).append(s)
    rows = []
    for rid, ss in by_rid.items():
        root = [s for s in ss if s.name.startswith("api.handle_")]
        if len(root) != 1 or rid not in client_ms:
            continue
        handle_ms = 1000 * (root[0].end - root[0].start)
        geo = [s for s in ss if s.name == "geo.cover"
               and not (s.parent in by_id and by_id[s.parent].name == "geo.cover")]
        row = {
            "server.overhead_ms": client_ms[rid] - handle_ms,
            "api.validate_ms": 1000 * sum(s.end - s.start for s in ss if s.name == "api.validate"),
            "api.envelope_ms": 1000 * sum(selft[s.id] for s in ss if s.name == "api.envelope"),
            "geo.cover_ms": 1000 * sum(s.end - s.start for s in geo),
            "geo.cover_cells": sum(s.n for s in ss if s.name == "geo.cover"),
            "query.plan_ms": 1000 * sum(selft[s.id] for s in ss if s.name == "query.plan"),
            "query.py4j_calls": sum(s.py4j for s in ss if s.name == "query.plan"),
            "spark.exec_ms": 1000 * sum(s.end - s.start for s in ss if s.name == "spark.collect"),
            "kind": "snapshot" if root[0].name == "api.handle_snapshot" else "history",
        }
        path = sum(row[k] for k in ("server.overhead_ms", "api.validate_ms", "api.envelope_ms",
                                    "geo.cover_ms", "query.plan_ms", "spark.exec_ms"))
        row["trace.path_share"] = path / client_ms[rid]
        rows.append((rid, row))
    out = {k: _med(r[k] for _, r in rows)
           for k in ("server.overhead_ms", "api.validate_ms", "api.envelope_ms", "query.plan_ms",
                     "query.py4j_calls", "spark.exec_ms", "trace.path_share")}
    snaps = [r for _, r in rows if r["kind"] == "snapshot"]
    out["geo.cover_ms"] = _med(r["geo.cover_ms"] for r in snaps)
    out["geo.cover_cells"] = _med(r["geo.cover_cells"] for r in snaps)
    out["_rids"] = [rid for rid, _ in rows]
    return out


def dir_stats(path: str) -> tuple[int, int, int]:
    """(parquet files, bytes, rows) under `path`."""
    files = nbytes = rows = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                files += 1
                nbytes += os.path.getsize(p)
                rows += pq.ParquetFile(p).metadata.num_rows
    return files, nbytes, rows


def _pipeline(stats: dict, ingest: dict) -> dict[str, float]:
    def epoch(ts: str) -> float:
        return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()

    batches = [p for p in stats.get("progress", [])
               if p["rows"] and epoch(p["timestamp"]) >= ingest["timed_from"]]
    merges = [p["durations"].get("addBatch", 0) / 1000 for p in batches]
    waits = []
    for a, b in zip(batches, batches[1:]):
        end_a = epoch(a["timestamp"]) + a["durations"].get("triggerExecution", 0) / 1000
        waits.append(max(0.0, epoch(b["timestamp"]) - end_a))
    store_dir = os.path.join(ingest["store"], stats.get("current") or "")
    files, nbytes, _rows = dir_stats(store_dir) if stats.get("current") else (0, 0, 0)
    linked = sum(1 for root, _d, names in os.walk(store_dir) for n in names
                 if n.endswith(".parquet") and os.stat(os.path.join(root, n)).st_nlink > 1)
    return {
        "pipeline.merge_p50_s": quantile(merges, 50) if merges else 0.0,
        "pipeline.merge_p90_s": quantile(merges, 90) if merges else 0.0,
        "pipeline.trigger_wait_s": _med(waits),
        "pipeline.batches": len(batches),
        "pipeline.rows_in": sum(p["rows"] for p in batches),
        "pipeline.linked_files": linked,
        "pipeline.skipped_batches": stats.get("skipped_batches", 0),
        "pipeline.store_files": files,
        "pipeline.store_bytes": nbytes,
        "ingest.generator_lateness_ms": 1000 * max(ingest["late"]),
    }


def request_metrics(stats: dict, work: str, plain, traced, rss_mb: float,
                    views: str | None = None,
                    ingest: dict | None = None) -> dict[str, tuple[float, str]]:
    spans = _spans(stats)
    client_ms = {o.rid: 1000 * o.latency_s for o in traced if not o.error}
    vals: dict[str, float] = {k: 0.0 for k in METRICS}
    layers = request_layers(spans, client_ms)
    rids = layers.pop("_rids")
    vals.update(layers)
    vals.update(_spark_per_op(stats, [f"rid-{r}" for r in rids], event_log(work)))
    if views is not None:
        builds = [s.end - s.start for s in spans if s.name == "views.build"]
        files, nbytes, rows = dir_stats(views)
        vals.update({"views.build_s": _med(builds), "views.rows": rows,
                     "views.files": files, "views.bytes": nbytes})
    if ingest is not None:
        vals.update(_pipeline(stats, ingest))
        vals["ingest.read_p50_ms"] = _med(client_ms.values())
    plain_ok = [o.latency_s for o in plain if not o.error]
    vals["trace.overhead_ratio"] = _med(client_ms.values()) / (1000 * _med(plain_ok))
    vals["memory.peak_rss_mb"] = rss_mb
    return {k: (vals.get(k, 0.0), u) for k, u in METRICS.items()}
