"""Open-loop load generator, run as its own process so its schedule does
not slow when the program under test slows.

    python3 perfbench/loadgen.py '<json config>'

Protocol over stdio: the generator renders every payload first, prints
``ready``, then waits for ``go <wall-clock start>`` on stdin. From that
start it

- publishes live file ``i`` at ``start + i * interval_s`` (when
  ``files`` > 0): written to a staging directory, then renamed
  atomically into the watched directory;
- issues dashboard ``HGETALL`` reads at ``read_rate`` per second (when
  above 0) to the mini-Redis on ``port``, each timed from its due time;
- with ``ping`` set, times a ``PING`` round trip 20 times per second on
  a second connection.

It stops reading at ``stop`` on stdin, writes its log (due and publish
times of every file, every read's latency, its own lateness) as JSON to
``out`` and exits.
"""

from __future__ import annotations

import json
import os
import random
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import orders  # noqa: E402  (this script's own directory is on sys.path)
from steaminganalysis_spark.backends.miniredis import (  # noqa: E402
    MiniRedisClient,
    ResponseError,
)


def _sleep_until(t: float) -> None:
    d = t - time.time()
    if d > 0:
        time.sleep(d)


def publish(cfg: dict, payloads: list[bytes], start: float, log: list) -> None:
    stage, watch = cfg["stage_dir"], cfg["watch_dir"]
    for i, data in enumerate(payloads):
        due = start + i * cfg["interval_s"]
        _sleep_until(due)
        name = f"live-{i:06d}.json"
        tmp = os.path.join(stage, name)
        with open(tmp, "wb") as f:
            f.write(data)
        os.rename(tmp, os.path.join(watch, name))
        log.append((due, time.time()))


def read_loop(cfg: dict, start: float, stop: threading.Event, out: dict) -> None:
    client = MiniRedisClient("127.0.0.1", cfg["port"])
    rng = random.Random(cfg["seed"])
    keys = cfg["read_keys"]
    period = 1.0 / cfg["read_rate"]
    free_at = start
    try:
        k = 0
        while not stop.is_set():
            due = start + k * period
            _sleep_until(due)
            issued = time.time()
            try:
                client.hgetall(rng.choice(keys))
            except (OSError, ResponseError):
                out["read_errors"] += 1
            done = time.time()
            # the generator's own delay (not waiting on the server) is
            # reported as lateness and kept out of the read's latency
            late = issued - max(due, free_at)
            out["reads"].append((due, done - due - late))
            out["read_late"].append(late)
            free_at = done
            k += 1
    finally:
        client.close()


def ping_loop(cfg: dict, stop: threading.Event, rtts: list) -> None:
    client = MiniRedisClient("127.0.0.1", cfg["port"])
    try:
        while not stop.wait(0.05):
            t = time.perf_counter()
            client.ping()
            rtts.append(time.perf_counter() - t)
    finally:
        client.close()


def main() -> None:
    cfg = json.loads(sys.argv[1])
    totals = orders.new_totals()
    payloads = [
        orders.live_file(cfg["seed"], i, i * cfg["interval_s"],
                         cfg["events_per_file"], totals)
        for i in range(cfg["files"])
    ]
    print("ready", flush=True)
    cmd, _, start_s = sys.stdin.readline().partition(" ")
    if cmd != "go":
        raise SystemExit(f"loadgen: expected 'go <start>', got {cmd!r}")
    start = float(start_s)

    stop = threading.Event()
    published: list = []
    reads = {"reads": [], "read_late": [], "read_errors": 0}
    rtts: list = []
    threads = []
    if cfg["read_rate"]:
        threads.append(threading.Thread(
            target=read_loop, args=(cfg, start, stop, reads)))
    if payloads:
        threads.append(threading.Thread(
            target=publish, args=(cfg, payloads, start, published)))
    if cfg.get("ping"):
        threads.append(threading.Thread(target=ping_loop, args=(cfg, stop, rtts)))
    for t in threads:
        t.start()
    sys.stdin.readline()  # "stop" (or EOF if the parent went away)
    stop.set()
    for t in threads:
        t.join()
    with open(cfg["out"], "w") as f:
        json.dump({"published": published, "ping_rtts": rtts,
                   "events_sent": len(published) * cfg["events_per_file"],
                   **reads}, f)
    print("done", flush=True)


if __name__ == "__main__":
    main()
