"""Quick self-test of the benchmark (about three minutes on 4 cores):

    python3 perfbench/selftest.py

1. A reduced-size run of every workload, untraced and traced, must be
   correct and print exactly the metrics ``BENCHMARK.json`` names, each
   with its unit.
2. The correctness gate must fire on a deliberately corrupted KV state:
   one extra event added to a day's hash before the read-back.
"""

from __future__ import annotations

import json
import os
import sys

import run

SMALL = {
    "orders_backfill": {**run.WORKLOADS["orders_backfill"],
                        "files": 4, "events_per_file": 500, "max_files": 2},
    "orders_scattered": {**run.WORKLOADS["orders_scattered"],
                         "files": 4, "events_per_file": 500},
    "orders_live": {**run.WORKLOADS["orders_live"],
                    "events_per_file": 5},
}
SECONDS = 2.0


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}", flush=True)


def corrupt_one_day(bench: run.Bench) -> None:
    bench.admin.hincrby(sorted(bench.store.keys())[0], "total", 1)


def main() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    expect({w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS),
           "every workload BENCHMARK.json names exists")
    for name in sorted(SMALL):
        for trace in (0, 1):
            res = run.run_workload(name, SMALL[name], 7, SECONDS, bool(trace))["result"]
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{name} trace={trace}: correct, {res['attempted']} attempted")
            expect(got == want[trace],
                   f"{name} trace={trace}: metrics and units match BENCHMARK.json")
            bad = [k for k, v in res["metrics"].items()
                   if not isinstance(v["value"], (int, float))]
            expect(not bad, f"{name} trace={trace}: every value is a number")
    res = run.run_workload("orders_backfill", SMALL["orders_backfill"], 7,
                           SECONDS, False, corrupt=corrupt_one_day)["result"]
    expect(not res["correct"] and res["failed"] >= 1,
           f"corrupted KV state is caught ({res['failed']} failed)")
    print("selftest passed")


if __name__ == "__main__":
    sys.exit(main())
