"""Seeded order-event inputs and their exact reference totals.

Events follow the reference producer's distributions (every field a JSON
string; userId in [0, 1000), courseId in [0, 500), fee in [0, 500),
flag "0"/"1" uniform, orderId a random 128-bit hex id). One input file
is one newline-delimited batch of JSON payloads, which the text file
source reads as the Kafka ``value`` column.

The reference totals are computed here in Python from the same draws, so
the KV state the pipeline leaves behind can be checked for exact
equality, including the late and out-of-order events of a scattered
backlog.
"""

from __future__ import annotations

import datetime as dt
import random
from collections import defaultdict

KEY_PREFIX = "sa-spark-"  # the sink's hash-key prefix (streaming.sinks.KEY_PREFIX)

Totals = dict[str, list[int]]  # day -> [total, success, fee_cents]


def base_day(seed: int) -> dt.date:
    """First event day for a seed: 2000-01-01 plus up to ~8 years."""
    return dt.date(2000, 1, 1) + dt.timedelta(days=seed % 3000)


def render_file(
    rng: random.Random, times: list[str], totals: Totals
) -> bytes:
    """One input file: an event per entry of ``times`` (``yyyy-MM-dd
    HH:mm:ss``). Adds each event to ``totals`` as the pipeline should
    count it."""
    lines = []
    for t in times:
        fee = rng.randrange(500)
        flag = rng.randrange(2)
        lines.append(
            '{"time":"%s","userId":"%d","courseId":"%d","fee":"%d",'
            '"flag":"%d","orderId":"%032x"}'
            % (t, rng.randrange(1000), rng.randrange(500), fee, flag,
               rng.getrandbits(128))
        )
        acc = totals[t[:10]]
        acc[0] += 1
        acc[1] += flag
        acc[2] += fee * 100 * flag
    return ("\n".join(lines) + "\n").encode()


def new_totals() -> Totals:
    return defaultdict(lambda: [0, 0, 0])


def backlog(
    seed: int, n_files: int, events_per_file: int, n_days: int
) -> tuple[list[bytes], Totals]:
    """A pre-written backlog whose event times fall uniformly on
    ``n_days`` consecutive days, in random (so out-of-order) order."""
    rng = random.Random(seed)
    day0 = base_day(seed)
    totals = new_totals()
    files = []
    for _ in range(n_files):
        times = []
        for _ in range(events_per_file):
            d = day0 + dt.timedelta(days=rng.randrange(n_days))
            s = rng.randrange(86400)
            times.append(f"{d} {s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}")
        files.append(render_file(rng, times, totals))
    return files, totals


def live_file(seed: int, index: int, offset_s: float, events: int,
              totals: Totals) -> bytes:
    """File ``index`` of a live feed. Event times follow the schedule
    (``offset_s`` seconds after 08:00 on the seed's base day), as the
    reference producer stamps events with the wall clock, so a run stays
    on one day key."""
    rng = random.Random(seed * 1_000_003 + index)
    t0 = dt.datetime.combine(base_day(seed), dt.time(8))
    stamp = (t0 + dt.timedelta(seconds=offset_s)).strftime("%Y-%m-%d %H:%M:%S")
    return render_file(rng, [stamp] * events, totals)


def expected_state(totals: Totals, copies: int = 1) -> dict[str, dict[str, int]]:
    """The KV state ``copies`` full applications of ``totals`` leave."""
    return {
        KEY_PREFIX + day: {
            "total": copies * t, "success": copies * s, "fee_cents": copies * f
        }
        for day, (t, s, f) in totals.items()
    }
