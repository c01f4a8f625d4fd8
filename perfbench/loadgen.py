"""Open-loop release process: moves pre-generated event files into the
directory the stream watches, each at its scheduled time, whether or not
the engine keeps up. Runs as its own process so a stalled Spark driver
cannot slow the schedule.

    python3 loadgen.py <staging_dir> <watched_dir> <schedule.json> <t0> <log.json>

``schedule.json`` is a list of ``[file_name, offset_s, rows]``; ``t0`` is
the wall-clock epoch second the schedule starts at. The log records, per
file, the scheduled and the actual release time (epoch ms).
"""

from __future__ import annotations

import json
import os
import signal
import sys
import time


def main(staging: str, watched: str, schedule_path: str, t0: float, log_path: str) -> int:
    with open(schedule_path) as f:
        schedule = json.load(f)
    stop = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(True))
    released = []
    for name, offset_s, rows in schedule:
        if stop:
            break
        due = t0 + offset_s
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        # rename within one filesystem is atomic: the source never lists a
        # half-written file
        os.rename(os.path.join(staging, name), os.path.join(watched, name))
        released.append(
            {"file": name, "rows": rows, "due_ms": due * 1000.0, "at_ms": time.time() * 1000.0}
        )
    with open(log_path + ".tmp", "w") as f:
        json.dump(released, f)
    os.rename(log_path + ".tmp", log_path)
    return 0


if __name__ == "__main__":
    staging, watched, schedule_path, t0, log_path = sys.argv[1:6]
    sys.exit(main(staging, watched, schedule_path, float(t0), log_path))
