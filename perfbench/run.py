"""Order-stream benchmark: the Kafka -> parse -> per-day rollup -> Redis
HINCRBY micro-batch pipeline, measured end to end.

    python3 perfbench/run.py --workload orders_backfill --seed 1 \\
        --seconds 10 --trace 0

Run it from the root of a checkout. The program is driven only through
its public functions (``session.get_spark``, ``streaming.pipeline``,
``streaming.sinks.day_rollup_sink``, ``backends.miniredis``). The sink
writes to ``redis://127.0.0.1:<port>/0`` served by an in-process
``MiniRedisServer``, so every batch crosses the production wire path:
RESP, one Lua ``EVAL`` per batch, run by ``luasim``. Inputs are order
JSON files made from ``--seed`` (see ``orders.py``), read by the text
file source as the Kafka ``value`` column.

Workloads (``WORKLOADS`` below):

- ``orders_backfill``: a 100 000-event backlog on 3 event days drained
  with ``availableNow`` in 4 large batches; parsing and aggregation do
  the work, the sink sees 3 keys per batch.
- ``orders_scattered``: events spread over ~10 years (late, out of
  order), a 40 000-event backlog drained in 4 batches; every ``EVAL``
  carries ~10 000 ``HINCRBY``s, so the sink and the Lua path work.
- ``orders_live``: an open loop publishing one 20-event file every
  50 ms, read by the default (as-fast-as-possible) trigger; batches are
  small (~6 files), so per-trigger costs outweigh parsing. The first
  4 s of the stream are a lead-in that is not scored. It runs by hand
  only and is not one of ``BENCHMARK.json``'s workloads: its latency
  follows the host's CPU steal too closely to hold a 0.25 bound from
  run to run (see ``METRICS.md``).

On ``orders_scattered`` a separate load-generator process
(``loadgen.py``) issues dashboard ``HGETALL`` reads, open loop at
200/s, beside the sink's writes; on ``orders_live`` the same process
publishes the files and issues no reads. Spark runs ``local[2]`` with
``SPARK_GRAFT_CPUS=2``, leaving the other cores of a 4-core machine to
the generator and the mini-Redis thread; the Spark heap is 512 MB,
committed up front so that heap growth does not vary from run to run.

Set-up (``setup_s``) is timed from process start: imports, ``get_spark``
and untimed warm-up drains (on backlog workloads, three of the
workload's own shape). The measured window then lasts ``--seconds``.
Backlog workloads drain the whole backlog again and again (fresh
checkpoint each time) until the window is over, and report medians over
drains.

The last stdout line is the result; the line before it echoes the
machine shape. With ``--trace 1`` the window is measured twice, first
untraced and then with spans around the sink and store calls
(``spans.py``); the per-layer metrics come from the traced half and the
spans are written to ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # the first set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import orders  # noqa: E402
import pyspark  # noqa: E402
import spans  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

CPUS = 2
# Generator p99 lateness beyond which a run is invalid: one live publish
# slot, and under a tenth of the latencies the workloads measure.
LATE_LIMIT_S = 0.05
# Live latency percentiles are taken per slice of this many scored files
# (5 s of the schedule), then the median over slices, so one stall of
# the machine moves one slice rather than the whole run's p99.
LIVE_SLICE_FILES = 100
# Warm-up drains of the live workload, as (files, events per file, max
# files per trigger): large batches, then many small files in one batch
# (the live shape), so the JIT has compiled both paths before timing. A
# backlog workload instead drains ``warm_files`` files of its own shape
# (other data) ``WARM_DRAINS`` times: the first drain of a session pays
# for compiling the query, and the JIT goes on warming for a few drains
# after it, which would otherwise run on into the window.
WARM = ((4, 5000, 2), (60, 20, None))
WARM_DRAINS = 3
WORKLOADS = {
    "orders_backfill": {"kind": "drain", "files": 4, "events_per_file": 25000,
                        "days": 3, "max_files": 1, "warm_files": 4},
    "orders_scattered": {"kind": "drain", "files": 4, "events_per_file": 10000,
                         "days": 3652, "max_files": 1, "warm_files": 3,
                         "read_rate": 200},
    "orders_live": {"kind": "live", "interval_s": 0.05, "events_per_file": 20,
                    "lead_in_s": 4.0},
}


def _configure_env(run_dir: str) -> None:
    """Machine shape and scratch locations, set before pyspark loads."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": "512m",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
    })
    sys.path.insert(0, ROOT)


def pct(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def source_log(ckpt: str) -> dict[str, int]:
    """File path -> batch id, from the checkpoint's file-source log
    (plain and compacted entries)."""
    out: dict[str, int] = {}
    d = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


class Bench:
    """One run of one workload: a Spark session, the mini-Redis the sink
    writes to, and the load generator."""

    def __init__(self, run_dir: str, seed: int, trace: bool) -> None:
        from steaminganalysis_spark.backends.miniredis import (
            MiniRedisClient,
            MiniRedisServer,
        )
        from steaminganalysis_spark.streaming.sinks import RedisKVStore

        self.run_dir = run_dir
        self.seed = seed
        self.trace = trace
        self.server = MiniRedisServer().start()
        # read-back goes through the program's own store client; FLUSHALL
        # (not part of the store contract) through a plain client
        self.store = RedisKVStore(self.server.url)
        self.admin = MiniRedisClient(self.server.host, self.server.port)
        self.progress = spans.ProgressLog()
        self.spark = None
        self.get_spark_s = 0.0
        self._n = 0

    def fresh(self, kind: str) -> str:
        """A new, numbered path under the run directory."""
        self._n += 1
        return os.path.join(self.run_dir, f"{kind}-{self._n:03d}")

    # -- set-up ----------------------------------------------------------
    def setup(self, spec: dict) -> float:
        """Build the session and warm the pipeline (``spec``'s own shape
        on a backlog workload, the ``WARM`` drains on live); returns the
        seconds since process start."""
        from steaminganalysis_spark.session import get_spark

        g = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={"spark.driver.extraJavaOptions":
                        f"-Xms512m -Djava.io.tmpdir={os.environ['TMPDIR']}"},
        )
        self.get_spark_s = time.perf_counter() - g
        self.spark.streams.addListener(self.progress)
        if spec["kind"] == "live":
            for n_files, events, max_files in WARM:
                files, _ = orders.backlog(self.seed + 1, n_files, events, 3)
                self.drain(self.write_files(files, "warm"), max_files)
        else:
            files, _ = orders.backlog(self.seed + 1, spec["warm_files"],
                                      spec["events_per_file"], spec["days"])
            src = self.write_files(files, "warm")
            for _ in range(WARM_DRAINS):
                self.drain(src, spec["max_files"])
        return time.time() - T_PROCESS

    def write_files(self, files: list[bytes], kind: str) -> str:
        d = self.fresh(kind)
        os.makedirs(d)
        for i, data in enumerate(files):
            with open(os.path.join(d, f"part-{i:05d}.json"), "wb") as f:
                f.write(data)
        return d

    # -- the program under test -----------------------------------------
    def order_stream(self, src: str, max_files: int | None):
        from steaminganalysis_spark.streaming.pipeline import (
            classify_orders,
            parse_order_json,
        )

        reader = self.spark.readStream.format("text")
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        return classify_orders(parse_order_json(reader.load(src)))

    def sink(self, stream, ckpt: str):
        from steaminganalysis_spark.streaming.pipeline import day_rollup_delta
        from steaminganalysis_spark.streaming.sinks import day_rollup_sink

        return day_rollup_sink(stream, ckpt, day_rollup_delta,
                               store_name=self.server.url)

    def drain(self, src: str, max_files: int | None) -> dict:
        """Drain ``src`` with availableNow into the KV store."""
        ckpt = self.fresh("ckpt")
        writer = self.sink(self.order_stream(src, max_files), ckpt)
        t0 = time.time()
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        t1 = time.time()
        return {"query_id": str(q.id), "ckpt": ckpt, "start": t0, "end": t1}

    # -- KV store --------------------------------------------------------
    def flush(self) -> None:
        self.admin.execute_command("FLUSHALL")

    def idle_probe(self, n: int = 100) -> tuple[list[float], list[float]]:
        """Latencies (s) of ``n`` sequential ``HGETALL``s over the state's
        keys and of ``n`` ``PING``s, with the sink idle: the backend's
        unloaded figures, for workloads that run no reader."""
        keys = sorted(self.store.keys())
        reads, rtts = [], []
        for i in range(n):
            t = time.perf_counter()
            self.admin.hgetall(keys[i % len(keys)])
            reads.append(time.perf_counter() - t)
            t = time.perf_counter()
            self.admin.ping()
            rtts.append(time.perf_counter() - t)
        return reads, rtts

    def check_state(self, expected: dict[str, dict[str, int]]) -> int:
        """Events missing from or double-counted in the KV state, read
        back through ``RedisKVStore``; a key whose event count is right
        but whose other fields differ counts as one."""
        failed = 0
        for key in set(expected) | set(self.store.keys()):
            want = expected.get(key, {})
            got = self.store.hgetall(key)
            off = abs(got.get("total", 0) - want.get("total", 0))
            if not off and got != want:
                off = 1
            failed += off
        return failed

    # -- load generator --------------------------------------------------
    def start_loadgen(self, read_rate: int, read_keys: list[str],
                      live: dict | None = None):
        cfg = {"seed": self.seed, "port": self.server.port,
               "read_rate": read_rate, "read_keys": read_keys,
               "ping": self.trace and read_rate > 0,
               "out": self.fresh("loadgen") + ".json",
               "files": 0, "interval_s": 0.0, "events_per_file": 0}
        if live:
            cfg.update(live)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "loadgen.py"), json.dumps(cfg)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        if proc.stdout.readline().strip() != "ready":
            proc.kill()
            proc.wait()
            raise RuntimeError("load generator failed to start")
        return proc, cfg["out"]

    @staticmethod
    def go(proc, start: float) -> None:
        proc.stdin.write(f"go {start!r}\n")
        proc.stdin.flush()

    @staticmethod
    def finish_loadgen(proc, out: str) -> dict:
        if proc is None:  # no generator ran: an empty log
            return {"published": [], "ping_rtts": [], "events_sent": 0,
                    "reads": [], "read_late": [], "read_errors": 0}
        proc.stdin.write("stop\n")
        proc.stdin.close()
        done = proc.stdout.readline().strip()
        proc.wait(timeout=60)
        if done != "done":
            raise RuntimeError("load generator did not finish")
        with open(out) as f:
            return json.load(f)

    # -- measured windows ------------------------------------------------
    def measure_drains(self, spec: dict, seconds: float) -> dict:
        """Drain the backlog again and again (fresh checkpoint each time)
        until ``seconds`` have passed. Latency percentiles are per drain,
        then the median over drains."""
        files, totals = orders.backlog(self.seed, spec["files"],
                                       spec["events_per_file"], spec["days"])
        src = self.write_files(files, "backlog")
        n_events = spec["files"] * spec["events_per_file"]
        proc = out = None
        if spec.get("read_rate"):
            proc, out = self.start_loadgen(
                spec["read_rate"], sorted(orders.expected_state(totals)))
        try:
            start = time.time() + 0.1
            if proc is not None:
                self.go(proc, start)
            while time.time() < start:
                time.sleep(0.01)
            drains = []
            while not drains or time.time() < start + seconds:
                drains.append(self.drain(src, spec["max_files"]))
        finally:
            gen = self.finish_loadgen(proc, out)
        p50, p99, batches, backlog = [], [], [], []
        for d in drains:
            member = source_log(d["ckpt"])
            ends = self.batches(d["query_id"], set(member.values()))
            batches += [ends[b] for b in sorted(ends)]
            for bid in sorted(ends):  # files not yet taken when it started
                backlog.append(sum(1 for b in member.values() if b >= bid))
            lat = [spans.trigger_window(ends[b])[1] - d["start"]
                   for b in member.values()]
            p50.append(pct(lat, 50))
            p99.append(pct(lat, 99))
        took = [d["end"] - d["start"] for d in drains]
        return {
            "throughput": statistics.median(n_events / t for t in took),
            "p50": statistics.median(p50), "p99": statistics.median(p99),
            "primary_s": statistics.median(took),
            "reads": [lat for _due, lat in gen["reads"]],
            "gen": gen, "batches": batches, "backlog": backlog,
            "t_measure": start, "events": n_events * len(drains),
            "expected": orders.expected_state(totals, len(drains)),
            "drains": [round(t, 3) for t in took],
        }

    def measure_live(self, spec: dict, seconds: float) -> dict:
        """One open-loop stream: a lead-in, then ``seconds`` measured."""
        interval, epf = spec["interval_s"], spec["events_per_file"]
        n_lead = int(spec["lead_in_s"] / interval)
        n_files = n_lead + max(1, int(seconds / interval))
        totals = orders.new_totals()
        prime = orders.live_file(self.seed, n_files, 0.0, epf, totals)
        for i in range(n_files):
            orders.live_file(self.seed, i, i * interval, epf, totals)
        watch = self.fresh("live")
        stage = watch + "-stage"
        os.makedirs(watch)
        os.makedirs(stage)
        with open(os.path.join(watch, "prime.json"), "wb") as f:
            f.write(prime)
        proc, out = self.start_loadgen(
            0, [],
            {"files": n_files, "interval_s": interval, "events_per_file": epf,
             "watch_dir": watch, "stage_dir": stage})
        ckpt = self.fresh("ckpt")
        q = self.sink(self.order_stream(watch, None), ckpt).start()
        want_rows = (n_files + 1) * epf
        try:
            self._wait_rows(q, epf, 120.0)  # the prime file is applied
            start = time.time() + 0.2
            self.go(proc, start)
            time.sleep(max(0.0, start + n_files * interval + 0.05 - time.time()))
            gen = self.finish_loadgen(proc, out)
            self._wait_rows(q, want_rows, 60.0)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            q.stop()
        member = source_log(ckpt)
        del member["prime.json"]
        batches = self.batches(str(q.id), set(member.values()))
        t_measure = start + n_lead * interval
        latencies, last_end = [], t_measure
        for i, (due, _pub) in enumerate(gen["published"][n_lead:], n_lead):
            end = spans.trigger_window(batches[member[f"live-{i:06d}.json"]])[1]
            latencies.append(end - due)
            last_end = max(last_end, end)
        pubs = sorted(pub for _due, pub in gen["published"])
        measured, backlog = [], []
        for bid in sorted(batches):
            t = spans.trigger_window(batches[bid])[0]
            if t < t_measure:
                continue
            measured.append(batches[bid])
            # published but not yet taken when the trigger started
            backlog.append(sum(1 for x in pubs if x <= t)
                           - sum(1 for b in member.values() if b < bid))
        n = max(1, len(latencies) // LIVE_SLICE_FILES)
        slices = [latencies[i * len(latencies) // n:(i + 1) * len(latencies) // n]
                  for i in range(n)]
        p50 = statistics.median(pct(x, 50) for x in slices)
        return {
            "throughput": len(latencies) * epf / (last_end - t_measure),
            "p50": p50, "p99": statistics.median(pct(x, 99) for x in slices),
            "primary_s": p50,
            "reads": [lat for due, lat in gen["reads"] if due >= t_measure],
            "gen": gen, "batches": measured, "backlog": backlog,
            "t_measure": t_measure, "events": want_rows, "expected": orders.expected_state(totals),
            "drains": [round(last_end - t_measure, 3)],
        }

    def batches(self, query_id: str, batch_ids: set[int],
                timeout: float = 30.0) -> dict[int, dict]:
        """Progress of each batch in ``batch_ids``; listener events can
        arrive shortly after the query returns, so wait for them."""
        deadline = time.time() + timeout
        while True:
            got = {p["batchId"]: p for p in self.progress.batches(query_id)}
            if batch_ids <= set(got) or time.time() > deadline:
                return got
            time.sleep(0.01)

    def _wait_rows(self, q, rows: int, timeout: float) -> None:
        deadline = time.time() + timeout
        while sum(p["numInputRows"] for p in self.progress.batches(str(q.id))) < rows:
            if q.exception() is not None or time.time() > deadline:
                raise RuntimeError(f"live query stalled: {q.exception()}")
            time.sleep(0.01)

    def close(self) -> float:
        """Stop Spark and its JVM and the mini-Redis; returns the peak
        RSS (MB) of the JVM plus this process."""
        from pyspark import SparkContext

        peak = vm_hwm_mb("self")
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is not None:
            peak += vm_hwm_mb(proc.pid)
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        self.admin.close()
        self.store._r.close()  # RedisKVStore has no close of its own
        self.server.stop()
        return peak


def layer_metrics(bench: Bench, m: dict, tracer: spans.Tracer) -> dict:
    """Per-layer figures of one traced window, as name -> (value, unit).
    ``_ms`` figures without ``_sum`` are per-trigger or per-call medians."""
    med = statistics.median

    def part(name: str) -> list[float]:
        return [p["durationMs"].get(name, 0) for p in m["batches"]]

    since = m["t_measure"]  # spans of lead-in batches are left out
    apply = tracer.of("sinks.apply_batch", since)
    apply_ms = [1000 * (s["end"] - s["start"]) for s in apply]
    exec_ms = [1000 * t for t in
               tracer.self_times("sinks.apply_day_rollup_batch", since)]
    applied = sum(s["applied"] for s in apply)
    trig_ms = sum(part("triggerExecution"))
    fixed_ms = sum(sum(part(x)) for x in spans.FIXED_PARTS)
    gen = m["gen"]
    out = {
        "session.get_spark_s": (bench.get_spark_s, "s"),
        "sources.latest_offset_ms": (med(part("latestOffset")), "ms"),
        "sources.get_batch_ms": (med(part("getBatch")), "ms"),
        "sources.backlog_files_max": (max(m["backlog"]), "count"),
        "trigger.batches": (len(m["batches"]), "count"),
        "trigger.execution_ms_sum": (trig_ms, "ms"),
    }
    for key, name in (("query_planning", "queryPlanning"),
                      ("wal_commit", "walCommit"),
                      ("commit_offsets", "commitOffsets"),
                      ("add_batch", "addBatch")):
        out[f"trigger.{key}_ms"] = (med(part(name)), "ms")
        out[f"trigger.{key}_ms_sum"] = (sum(part(name)), "ms")
    out.update({
        "pipeline.exec_ms": (med(exec_ms), "ms"),
        "pipeline.exec_ms_sum": (sum(exec_ms), "ms"),
        "pipeline.rows_per_batch":
            (med(p["numInputRows"] for p in m["batches"]), "count"),
        "pipeline.delta_rows_per_batch":
            (med(s["increments"] // 3 for s in apply), "count"),
        "sinks.apply_batch_ms": (med(apply_ms), "ms"),
        "sinks.apply_batch_ms_sum": (sum(apply_ms), "ms"),
        "sinks.last_applied_ms": (1000 * med(
            s["end"] - s["start"] for s in tracer.of("sinks.last_applied", since)), "ms"),
        "sinks.increments_per_batch": (med(s["increments"] for s in apply), "count"),
        "sinks.batches_applied": (applied, "count"),
        "sinks.batches_skipped": (
            len(tracer.of("sinks.apply_day_rollup_batch", since)) - applied, "count"),
        "sinks.kv_keys": (m["kv_keys"], "count"),
        "backends.hgetall_p99_ms": (1000 * pct(m["reads"], 99), "ms"),
        "backends.ping_rtt_ms": (1000 * med(gen["ping_rtts"]), "ms"),
        "backends.eval_args_bytes": (med(s["args_bytes"] for s in apply), "bytes"),
        "loadgen.late_ms_p99": (1000 * m["late_p99"], "ms"),
        "loadgen.events_sent": (gen["events_sent"], "count"),
        "loadgen.reads_sent": (len(gen["reads"]), "count"),
        "share.pipeline_exec_pct": (100 * sum(exec_ms) / trig_ms, "%"),
        "share.sink_apply_pct": (100 * sum(apply_ms) / trig_ms, "%"),
        "share.fixed_trigger_pct": (100 * fixed_ms / trig_ms, "%"),
    })
    return out


def measure(bench: Bench, spec: dict, seconds: float, corrupt=None) -> dict:
    """One measured window, its KV state checked and then cleared.
    ``corrupt(bench)``, if given, runs just before the check (the
    self-test uses it to show the check fires)."""
    if spec["kind"] == "live":
        m = bench.measure_live(spec, seconds)
    else:
        m = bench.measure_drains(spec, seconds)
    gen = m["gen"]
    if corrupt is not None:
        corrupt(bench)
    m["failed"] = bench.check_state(m.pop("expected")) + gen["read_errors"]
    m["attempted"] = m["events"] + len(gen["reads"])
    m["kv_keys"] = len(bench.store.keys())
    if bench.trace and not spec.get("read_rate"):
        m["reads"], gen["ping_rtts"] = bench.idle_probe()
    bench.flush()
    late = gen["read_late"] + [pub - due for due, pub in gen["published"]
                               if due >= m["t_measure"]]
    m["late_p99"] = pct(late, 99) if late else 0.0
    # An open loop that fell behind its own schedule did not offer the
    # load it claims: such a run is invalid, not a measurement.
    if m["late_p99"] > LATE_LIMIT_S:
        raise RuntimeError(
            f"invalid run: load generator p99 lateness {m['late_p99'] * 1000:.1f} ms")
    return m


def run_workload(name: str, spec: dict, seed: int, seconds: float,
                 trace: bool, corrupt=None) -> dict:
    """Set up, measure and check one workload; returns the result object
    (and, as ``env``, the machine shape). ``corrupt(bench)``, if given,
    runs before the KV state is checked (the self-test uses it)."""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _configure_env(run_dir)

    bench = Bench(run_dir, seed, trace)
    try:
        setup_s = bench.setup(spec)
        bench.flush()
        m = measure(bench, spec, seconds, corrupt)
        metrics = {
            "throughput_events_per_s": (m["throughput"], "1/s"),
            "latency_p50_ms": (1000 * m["p50"], "ms"),
            "latency_p99_ms": (1000 * m["p99"], "ms"),
            "setup_s": (setup_s, "s"),
        }
        attempted, failed = m["attempted"], m["failed"]
        if trace:
            tracer = spans.Tracer()
            tracer.install()
            try:
                t = measure(bench, spec, seconds)
            finally:
                tracer.uninstall()
            for p in t["batches"]:
                tracer.add_trigger(p)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK, "traces", f"{name}-seed{seed}.json"))
            metrics = layer_metrics(bench, t, tracer)
            metrics["trace.overhead_pct"] = (
                100 * (t["primary_s"] - m["primary_s"]) / m["primary_s"], "%")
            metrics["trace.spans"] = (len(tracer.spans), "count")
            attempted += t["attempted"]
            failed += t["failed"]
        master = bench.spark.sparkContext.master
    finally:
        peak = bench.close()
    if not trace:
        metrics["peak_rss_mb"] = (peak, "MB")
    return {
        "env": {"workload": name, "seed": seed, "nproc": os.cpu_count(),
                "loadavg_1m": os.getloadavg()[0], "master": master,
                "pyspark": pyspark.__version__, "commit": git_commit(),
                "drains": m["drains"],
                "loadgen_late_ms_p99": 1000 * m["late_p99"]},
        "result": {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        },
    }


def git_commit() -> str:
    """The checkout's commit, or "unknown" outside a git work tree
    (never looking above the checkout)."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)})
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    out = run_workload(args.workload, WORKLOADS[args.workload], args.seed,
                       args.seconds, bool(args.trace))
    print(json.dumps({"perfbench_env": out["env"]}))
    print(json.dumps(out["result"]))


if __name__ == "__main__":
    main()
