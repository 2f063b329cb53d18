"""EXPLORA-loop benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload snapshot_load --seed 1 --seconds 10 --trace 0

Run from the root of an explora-spark checkout. The harness generates the
workload's inputs from the seed, computes their answers with DuckDB,
starts the engine in its own process (perfbench/engine.py), drives the
load from this process, checks every answer and prints, as the last line
of stdout, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The line
before it is the run's attestation (machine, versions, seed, inputs).
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import http.client
import json
import math
import os
import platform
import queue
import shlex
import shutil
import subprocess
import sys
import threading
import time
from collections import Counter
from dataclasses import dataclass

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import answers as A  # noqa: E402
from perfbench import gen  # noqa: E402
from perfbench import layers  # noqa: E402
from perfbench.spans import median, quantile, tail_percentile  # noqa: E402

WORKLOADS = ("snapshot_load", "ingest_live")
#: closed-loop clients of snapshot_load. With one, a request has the
#: engine to itself, so its latency is its own cover, plan and scan work.
#: Two clients interleave thousands of py4j round trips under the
#: engine's one GIL, and how their requests happened to overlap moved the
#: latency more than the requests did.
SNAPSHOT_CLIENTS = 1
#: closed-loop readers of ingest_live, beside the merges
READERS = 2
#: clients that warm the engine up: two finish the warm-up passes sooner
#: than one, and warm the same code
WARM_CLIENTS = 2
#: Spark's local cores: at most the core count, and 4 at most
SPARK_CORES = max(1, min(4, os.cpu_count() or 1))
#: sensors in the generated window (2 metrics x 36 h at 5-minute cadence)
N_SENSORS = 120
REQUEST_TIMEOUT_S = 30.0
#: a run that has not finished by then is killed and exits non-zero
DEADLINE_S = 170.0
#: ingest_live: files appended at once, one minute of PROBE_SENSORS'
#: readings each. The next group is appended as soon as this one shows.
GROUP_FILES = 4
PROBE_SENSORS = 24
#: appended readings start the day after the window, so no bucket a
#: reader asks about ever changes
APPEND_START_MS = gen.WINDOW_START_MS + 2 * 86_400_000
#: the longest the last group may take to show after the run
DRAIN_S = 30.0
#: warm-up files the stream takes, a group at a time, before timing
#: starts: its first two merges into the store run slower than the ones
#: after them
WARM_FILES = 2 * GROUP_FILES
#: requests of one warm-up pass, and the fewest and most passes
WARM_PASS_OPS = 4
WARM_PASSES = (2, 3)


class EngineError(RuntimeError):
    pass


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since the run began."""
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# the engine process
# ---------------------------------------------------------------------------


class EngineProc:
    """perfbench/engine.py in a child process; "@@" lines of its stdout
    are messages, everything it logs goes to <work>/engine.log."""

    def __init__(self, root: str, work: str, workload: str, seed: int, trace: bool):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, env.get("PYTHONPATH")) if p)
        env.update({
            "SPARK_GRAFT_CPUS": str(SPARK_CORES),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            "TZ": "UTC",
        })
        conf = [
            "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        ]
        if trace:
            events = os.path.join(work, "events")
            os.makedirs(events, exist_ok=True)
            conf += ["--conf", "spark.eventLog.enabled=true",
                     "--conf", f"spark.eventLog.dir=file://{events}",
                     "--conf", "spark.eventLog.compress=false"]
        env["PYSPARK_SUBMIT_ARGS"] = shlex.join(conf + ["pyspark-shell"])
        cmd = [sys.executable, os.path.join(HERE, "engine.py"), "--workload", workload,
               "--work", work, "--seed", str(seed)]
        if trace:
            cmd.append("--trace")
        self.log_path = os.path.join(work, "engine.log")
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(cmd, cwd=work, env=env, text=True,
                                     stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self._log)
        self._msgs: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@@"):
                self._msgs.put(json.loads(line[2:]))
        self._msgs.put(None)

    def expect(self, event: str, timeout: float) -> dict:
        deadline = time.monotonic() + timeout
        while True:
            try:
                msg = self._msgs.get(timeout=max(0.0, deadline - time.monotonic()))
            except queue.Empty:
                raise EngineError(f"engine sent no {event!r} in {timeout:.0f}s") from None
            if msg is None:
                raise EngineError(f"engine exited before {event!r}:\n{self.log_tail()}")
            if msg.get("event") == event:
                return msg

    def send(self, line: str) -> None:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def log_tail(self, n: int = 30) -> str:
        self._log.flush()
        with open(self.log_path, errors="replace") as f:
            lines = [ln for ln in f if "WARN" not in ln]
        return "".join(lines[-n:])

    def peak_rss_mb(self) -> float:
        """Peak RSS of the engine's Python process plus the JVM it started."""
        return sum(_vm_hwm_kb(p) for p in [self.proc.pid, *_descendants(self.proc.pid)]) / 1024.0

    def stop(self, timeout: float = 60.0) -> dict:
        self.send("stop")
        msg = self.expect("stats", timeout)
        with open(msg["path"]) as f:
            stats = json.load(f)
        return stats

    def close(self, grace: float = 0.0) -> None:
        """Stop the engine and every process it started (the JVM, once
        orphaned, is no child of ours): kill what outlives `grace`, then
        wait until each has ended. Its stats are read by then, so nothing
        it does while shutting down is needed."""
        procs = [*_descendants(self.proc.pid), self.proc.pid]
        deadline = time.monotonic() + grace
        while any(map(_alive, procs)) and time.monotonic() < deadline:
            self.proc.poll()
            time.sleep(0.05)
        for p in procs:
            if _alive(p):
                _kill(p)
        self.proc.wait(timeout=30)
        self._reader.join(timeout=5)
        self._log.close()


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    """Whether `pid` runs and is no zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _kill(pid: int) -> None:
    try:
        os.kill(pid, 9)
    except OSError:
        pass


# ---------------------------------------------------------------------------
# load generation
# ---------------------------------------------------------------------------


@dataclass
class Op:
    rid: str
    kind: str
    start: float
    latency_s: float
    error: str | None
    body: dict | None = None
    shape: str = ""


class Client:
    """HTTP GETs against the engine; one connection per request (the
    engine's server speaks HTTP/1.0)."""

    def __init__(self, port: int):
        self.port = port
        self._n = 0
        self._lock = threading.Lock()

    def next_rid(self) -> str:
        with self._lock:
            self._n += 1
            return str(self._n)

    def get(self, req: A.Request, check: bool = True) -> Op:
        rid = self.next_rid()
        t0 = time.perf_counter()
        body, err = None, None
        try:
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=REQUEST_TIMEOUT_S)
            try:
                conn.request("GET", req.path(rid))
                resp = conn.getresponse()
                raw = resp.read()
            finally:
                conn.close()
            if resp.status != 200:
                err = f"HTTP {resp.status}: {raw[:200]!r}"
            else:
                body = json.loads(raw)
                if check:
                    err = A.check_body(req, body)
        except TimeoutError:
            err = "timeout"
        except (OSError, ValueError, http.client.HTTPException) as exc:
            err = f"{type(exc).__name__}: {exc}"
        return Op(rid, req.kind, t0, time.perf_counter() - t0, err, body)


def closed_loop(client: Client, stream: list[A.Request], n_clients: int,
                seconds: float | None = None, n_ops: int | None = None,
                start_at: int = 0, until: threading.Event | None = None) -> list[Op]:
    """`n_clients` callers, each sending its next request when the last
    one returns, until `seconds` pass (and `until` is set, if given) or
    `n_ops` requests are sent."""
    ops: list[Op] = []
    lock = threading.Lock()
    state = {"i": start_at}
    deadline = time.perf_counter() + seconds if seconds is not None else math.inf
    limit = start_at + n_ops if n_ops is not None else math.inf

    def take() -> A.Request | None:
        with lock:
            if state["i"] >= limit or (time.perf_counter() >= deadline
                                       and (until is None or until.is_set())):
                return None
            req = stream[state["i"] % len(stream)]
            state["i"] += 1
            return req

    def loop() -> None:
        while (req := take()) is not None:
            op = client.get(req)
            op.body, op.shape = None, req.shape
            with lock:
                ops.append(op)

    threads = [threading.Thread(target=loop) for _ in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return ops


def warm_up(client: Client, stream: list[A.Request], n_clients: int) -> int:
    """Send the stream's next WARM_PASS_OPS requests, pass after pass,
    until the pass median moves less than 10% from the pass before; at
    least WARM_PASSES[0] passes, so every request shape has run, and at
    most WARM_PASSES[1]. Returns the requests discarded."""
    sent, prev = 0, None
    for i in range(WARM_PASSES[1]):
        ops = closed_loop(client, stream, n_clients, n_ops=WARM_PASS_OPS,
                          start_at=WARM_PASS_OPS * i)
        sent += len(ops)
        med = median([o.latency_s for o in ops])
        log(f"warm-up pass median {1000 * med:.0f} ms")
        if i + 1 >= WARM_PASSES[0] and abs(med - prev) <= 0.1 * prev:
            break
        prev = med
    return sent


#: stream position timing starts at: past every request warm-up may
#: send, so every run times the same stretch of its stream
MEASURED_FROM = WARM_PASS_OPS * WARM_PASSES[1]


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Run:
    def __init__(self, root: str, work: str, args):
        self.root, self.work, self.args = root, work, args
        self.trace = bool(args.trace)
        self.attest: dict = {}
        self.engine: EngineProc | None = None

    def launch(self) -> None:
        """Start the engine process; its Spark session comes up while the
        harness generates inputs."""
        self.engine = EngineProc(self.root, self.work, self.args.workload,
                                 self.args.seed, self.trace)

    def start_engine(self) -> dict:
        self.engine.expect("session", timeout=120)
        log("session up; setting up")
        self.engine.send("begin")
        ready = self.engine.expect("ready", timeout=150)
        log(f"engine ready, setup {ready['setup_s']}")
        self.attest.update(ready.get("profile", {}))
        return ready

    def traced_halves(self, measure):
        """Untraced run: `measure(seconds, last=True)` once. Traced run:
        half the time with recording off, then half with it on; returns
        the pair (untraced ops, traced ops)."""
        s = self.args.seconds
        cpu0 = _cpu_times()
        if not self.trace:
            out = measure(s, True), None
        else:
            self.engine.send("trace off")
            plain = measure(s / 2, False)
            self.engine.send("trace on")
            out = plain, measure(s / 2, True)
        # time the hypervisor gave the virtual CPUs to other guests: a
        # noisy host shows here
        self.attest["cpu_steal_pct"] = _steal_pct(cpu0, _cpu_times())
        return out

    def snapshot_load(self) -> dict:
        self.launch()
        r = gen.readings(self.args.seed, N_SENSORS)
        nbytes = gen.write_parquet(r, os.path.join(self.work, "readings.parquet"))
        stream = A.snapshot_stream(self.args.seed, r.sensors, n_distinct=60)
        distinct = A.Answers(r).fill(stream)
        self.attest.update(input_rows=len(r), input_bytes=nbytes, distinct_requests=distinct)
        ready = self.start_engine()
        client = Client(ready["port"])
        if self.trace:
            self.engine.send("trace off")
        self.attest["warmup_ops_discarded"] = warm_up(client, stream, WARM_CLIENTS)
        plain, traced = self.traced_halves(
            lambda s, _last: closed_loop(client, stream, SNAPSHOT_CLIENTS, seconds=s,
                                         start_at=MEASURED_FROM))
        return self.finish_requests(ready, plain, traced, SNAPSHOT_CLIENTS, stream,
                                    views=ready["views"])

    def ingest_live(self) -> dict:
        self.launch()
        r = gen.readings(self.args.seed, N_SENSORS)
        nbytes = gen.write_parquet(r, os.path.join(self.work, "readings.parquet"))
        mix = A.read_mix(self.args.seed, r.sensors, n_distinct=96)
        A.Answers(r).fill(mix)
        probe_sensors = r.sensors[:PROBE_SENSORS]
        # files 0..WARM_FILES-1 warm the stream up; the timed ones follow in
        # groups of GROUP_FILES, each group appended once the one before
        # shows. A group takes at least one 1 s trigger, which bounds how
        # many files a run can append.
        n_files = WARM_FILES + GROUP_FILES * (math.ceil(self.args.seconds) + 1)
        minute = [APPEND_START_MS + k * gen.MINUTE_MS for k in range(n_files)]
        files = [gen.minute_file(self.args.seed + 1 + k, m, probe_sensors)
                 for k, m in enumerate(minute)]
        want = {m: int((f.metric_id == gen.METRICS[0]).sum()) for m, f in zip(minute, files)}
        self.attest.update(input_rows=len(r), input_bytes=nbytes, files_per_group=GROUP_FILES,
                           rows_per_file=len(files[0]))
        ready = self.start_engine()
        in_dir = os.path.join(self.work, "stream_in")
        current = os.path.join(ready["store"], "_CURRENT")
        client = Client(ready["port"])
        probe = A.Request("history", gen.METRICS[0], "count", {
            "gh_precision": "6", "res": "min",
            "geohashes": ",".join(sorted({s[:6] for s in probe_sensors})),
            "from": str(A.NOW_MS - gen.MINUTE_MS), "to": str(minute[-1]),
        })
        seen: dict[int, float] = {}
        wrong: dict[int, str] = {}
        due: dict[int, float] = {}
        late: list[float] = []

        def append(ks: range) -> None:
            """Append files `ks` at once; each is due when the call starts.
            All are written before any is renamed into place, so one
            micro-batch takes the whole group."""
            d = time.perf_counter()
            for k in ks:
                pq.write_table(files[k].table(), os.path.join(in_dir, f".part-{k:05d}.tmp"))
            for k in ks:
                os.rename(os.path.join(in_dir, f".part-{k:05d}.tmp"),
                          os.path.join(in_dir, f"part-{k:05d}.parquet"))
                due[k] = d
            late.append(time.perf_counter() - d)

        def shown(ks: range, until: float) -> bool:
            """Wait until the prober has shown every file of `ks`, right or
            wrong, or `until` passes."""
            while not all(k in seen or k in wrong for k in ks):
                if time.perf_counter() >= until:
                    return False
                time.sleep(0.01)
            return True

        def probe_once() -> None:
            op = client.get(probe, check=False)
            if op.error or not op.body:
                return
            now = time.perf_counter()
            for ts, cnt in op.body["data"]:
                if ts in want:
                    k = (ts - APPEND_START_MS) // gen.MINUTE_MS
                    if cnt != want[ts]:
                        wrong[k] = f"count {cnt} where {want[ts]} were appended"
                    elif k not in seen:
                        seen[k] = now

        def prober(stop: threading.Event) -> None:
            """Probe after every commit the store makes (until the probe
            shows something new, so the re-point is not missed)."""
            version = None
            while not stop.is_set():
                v = _read_first_line(current)
                if v == version:
                    time.sleep(0.02)
                    continue
                before = len(seen)
                for _ in range(20):
                    probe_once()
                    if len(seen) > before or stop.is_set():
                        break
                    time.sleep(0.05)
                version = v

        def appender(ks: range, t_end: float, give_up: float, out: list[int]) -> None:
            """Closed loop over the files `ks`: append a group of them, wait
            until it shows, append the next, until `t_end` passes; waiting
            gives up at `give_up`. Appended files go to `out`."""
            for k in range(ks.start, ks.stop, GROUP_FILES):
                if time.perf_counter() >= t_end:
                    return
                group = range(k, min(k + GROUP_FILES, ks.stop))
                append(group)
                out.extend(group)
                if not shown(group, give_up):
                    return

        stop_probe = threading.Event()
        probing = threading.Thread(target=prober, args=(stop_probe,))
        probing.start()
        try:
            if self.trace:
                self.engine.send("trace off")
            # warm-up: readers until steady while the stream merges the warm
            # files, a group at a time
            warming = threading.Thread(target=appender, args=(
                range(WARM_FILES), math.inf, time.perf_counter() + 60.0, []))
            warming.start()
            self.attest["warmup_ops_discarded"] = warm_up(client, mix, READERS) + WARM_FILES
            warming.join()
            if not shown(range(WARM_FILES), time.perf_counter()):
                raise EngineError("the stream did not take the warm-up files within 60 s")
            log("stream warm")

            timed: list[int] = []
            appended = threading.Event()

            def append_timed(t_end: float) -> None:
                try:
                    appender(range(WARM_FILES, n_files), t_end, t_end + DRAIN_S, timed)
                finally:
                    appended.set()

            # the readers go on until the last group shows, so a merge runs
            # beside them all through the window
            t0, timed_from = time.perf_counter(), time.time()
            appending = threading.Thread(target=append_timed, args=(t0 + self.args.seconds,))
            appending.start()
            plain, traced = self.traced_halves(
                lambda s, last: closed_loop(client, mix, READERS, seconds=s,
                                            start_at=MEASURED_FROM,
                                            until=appended if last else None))
            appending.join()
        finally:
            stop_probe.set()
            probing.join()
        fresh, lost, bad = classify_files(timed, seen, wrong, due)
        self.attest.update(
            appended_files=len(timed), files_never_visible=len(lost), files_wrong_count=len(bad),
            fail_causes=sorted({*bad.values(), *(["never visible"] if lost else [])}),
            generator_lateness_ms=1000 * max(late))
        extra = {"fresh": fresh, "late": late, "lost": len(lost), "wrong": len(bad),
                 "timed_from": timed_from, "store": ready["store"]}
        return self.finish_requests(ready, plain, traced, READERS, mix, ingest=extra)

    def finish_requests(self, ready, plain, traced, n_clients: int, stream: list[A.Request],
                        views=None, ingest=None) -> dict:
        ops = plain + (traced or [])
        rss = self.engine.peak_rss_mb()
        log("measured; stopping engine")
        stats = self.engine.stop()
        log("engine stopped")
        errors = [o.error for o in ops if o.error]
        ok = [o for o in plain if not o.error]
        if ingest is not None:
            prog = [p for p in stats.get("progress", []) if p["rows"]]
            self.attest["batches"] = [(p["rows"], p["durations"].get("addBatch"),
                                       p["durations"].get("triggerExecution")) for p in prog]
            self.attest["skipped_batches"] = stats.get("skipped_batches")
        if not ok:
            raise EngineError("no request succeeded: " + "; ".join(sorted(set(errors))[:5]))
        lat = [1000 * o.latency_s for o in ok]
        failed = len(errors)
        attempted = len(ops)
        if ingest is not None:
            # the workload's latency is freshness; each appended file is
            # one more operation that can fail
            attempted += len(ingest["fresh"]) + ingest["lost"] + ingest["wrong"]
            failed += ingest["lost"] + ingest["wrong"]
            if not ingest["fresh"]:
                raise EngineError("no appended file became visible")
            lat_fresh = [1000 * f for f in ingest["fresh"]]
            p50, p75 = quantile(lat_fresh, 50), quantile(lat_fresh, 75)
            self.attest["samples"] = len(ingest["fresh"])
            self.attest["read_p50_ms"] = quantile(lat, 50) if lat else None
        else:
            # the latency of the reference request, which is the same work
            # in every run and on every seed; the other shapes, each with
            # its own cost, weigh into the rate
            ref = [1000 * o.latency_s for o in ok if o.shape == "antwerp"]
            p50, p75 = quantile(ref, 50), quantile(ref, 75)
            self.attest["samples"] = len(ref)
            self.attest["tail_supported_pct"] = tail_percentile(ref)
            self.attest["all_shapes_p50_ms"] = quantile(lat, 50)
        by_shape: dict[str, list[float]] = {}
        for o in ok:
            by_shape.setdefault(o.shape, []).append(1000 * o.latency_s)
        self.attest["p50_ms_by_shape"] = {k: round(median(v), 1) for k, v in sorted(by_shape.items())}
        self.attest["latencies_ms"] = [[o.shape, round(1000 * o.latency_s)] for o in ok]
        self.attest["fail_causes"] = sorted(set(self.attest.get("fail_causes", []))
                                            | {e[:120] for e in errors})[:10]
        e2e = {
            "setup_s": (ready["setup_s"], "s"),
            "latency_p50_ms": (p50, "ms"),
            "throughput_per_s": (closed_loop_rate(ok, n_clients, stream), "1/s"),
        }
        self.attest.update(peak_rss_mb=rss, latency_p75_ms=p75)
        per_layer = None
        if self.trace:
            per_layer = layers.request_metrics(stats, self.work, plain, traced, rss,
                                               views=views, ingest=ingest)
        return self.result(attempted, failed, e2e, per_layer)

    def result(self, attempted: int, failed: int, e2e: dict, per_layer: dict | None) -> dict:
        metrics = per_layer if self.trace else e2e
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def classify_files(timed, seen: dict, wrong: dict, due: dict):
    """Sort each timed appended file into one of: shown with the wrong
    count (`wrong`), never shown, or shown right, which is timed from when
    it was due to when it was first `seen`. Returns (freshness seconds of
    the files shown right, files never shown, {file: wrong-count cause})."""
    bad = {k: wrong[k] for k in timed if k in wrong}
    lost = [k for k in timed if k not in seen and k not in bad]
    fresh = [seen[k] - due[k] for k in timed if k in seen and k not in bad]
    return fresh, lost, bad


def closed_loop_rate(ops: list[Op], n_clients: int, stream: list[A.Request]) -> float:
    """Responses per second of `n_clients` closed-loop callers sending
    `stream`: each one completes a request per mean latency (Little's
    law). Unlike answers over wall time, this leaves out the callers
    idling at the end of the window while the last requests finish. The
    mean weighs each request shape by its share of the stream, so where
    the window happens to cut the stream's cycle of shapes does not move
    the rate; shapes the window missed are left out."""
    share = Counter(r.shape for r in stream)
    by_shape: dict[str, list[float]] = {}
    for o in ops:
        by_shape.setdefault(o.shape, []).append(o.latency_s)
    mean = (sum(share[k] * sum(v) / len(v) for k, v in by_shape.items())
            / sum(share[k] for k in by_shape))
    return n_clients / mean


def _cpu_times() -> list[int]:
    """The aggregate "cpu" line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_pct(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time stolen between two `_cpu_times()` readings."""
    d = [b - a for a, b in zip(before, after)]
    return round(100.0 * d[7] / sum(d), 1) if len(d) > 7 and sum(d) else None


def _read_first_line(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.readline().strip()
    except OSError:
        return None


def _git_commit(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        path = os.path.join(root, ".git", ref[5:])
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                if line.strip().endswith(ref[5:]):
                    return line.split()[0]
    except OSError:
        pass
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="EXPLORA-loop benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "explora_kafka_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the root of an explora-spark checkout "
              "(explora_kafka_spark/ and __spark_entry__.py not found)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    run = Run(root, work, args)

    def overdue() -> None:
        # a hung run must still end inside its time limit, without a result
        print(f"perfbench: no result after {DEADLINE_S:.0f}s; giving up", file=sys.stderr)
        if run.engine is not None:
            run.engine.close()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    watchdog = threading.Timer(DEADLINE_S, overdue)
    watchdog.daemon = True
    watchdog.start()
    run.attest.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, traced=bool(args.trace),
        nproc=os.cpu_count(), clients=(SNAPSHOT_CLIENTS if args.workload == "snapshot_load"
                                       else READERS), python=platform.python_version(),
        commit=_git_commit(root))
    log(f"{args.workload} seed {args.seed}")
    try:
        result = getattr(run, args.workload)()
    except EngineError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        watchdog.cancel()
        if run.engine is not None:
            run.engine.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    log("done")
    print(json.dumps({"attestation": run.attest}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
