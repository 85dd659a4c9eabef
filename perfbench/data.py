"""Seeded inputs for the benchmark, made without the engine.

The events stream is written as landing CSV files by plain Python, so a
change to the engine cannot shift the input it is measured on.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
import random

_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
#: event_id = file number * ID_STRIDE + row: a row names the file it came in.
ID_STRIDE = 1_000_000
EVENT_HEADER = ("event_id", "ts", "user_id", "event_type")
_EVENT_T0 = dt.datetime(2024, 3, 1, 12, 0, 0)


def event_rows(seed: int, file_no: int, rows: int) -> list[tuple]:
    """The rows of one landing file. Every event time falls inside one hour,
    so the dedup watermark (two hours behind the latest event) never drops
    a delivered event as late."""
    rnd = random.Random(seed * 1_000_003 + file_no)
    out = []
    for r in range(rows):
        ts = _EVENT_T0 + dt.timedelta(seconds=rnd.randrange(3600))
        out.append((file_no * ID_STRIDE + r, ts.strftime("%Y-%m-%d %H:%M:%S"),
                    rnd.randrange(500), rnd.choice(_EVENT_TYPES)))
    return out


def render_csv(rows: list[tuple]) -> str:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(EVENT_HEADER)
    w.writerows(rows)
    return buf.getvalue()


def land(landing_csv_dir: str, name: str, body: str, staging_dir: str) -> str:
    """Write one landing object atomically: a streaming file source must never
    list a half-written file."""
    tmp = os.path.join(staging_dir, name)
    with open(tmp, "w") as fh:
        fh.write(body)
    dest = os.path.join(landing_csv_dir, name)
    os.rename(tmp, dest)
    return dest


def delivery_plan(seed: int, n_files: int) -> list[int]:
    """Order of deliveries as file numbers: every original once, plus one
    redelivery of a seed-chosen file in each block of ten, arriving one to
    three deliveries after its original."""
    rnd = random.Random(seed)
    plan = list(range(n_files))
    for block in range(0, n_files, 10):
        size = min(10, n_files - block)
        if size < 10:
            break
        f = block + rnd.randrange(size)
        pos = plan.index(f) + 1 + rnd.randrange(3)
        plan.insert(min(pos, len(plan)), f)
    return plan
