"""Open-loop sensor feed for the live phase of ``sensor_stream``.

Runs as its own single-threaded process, separate from the engine under
test, so its schedule never slows when the engine slows. It releases one
JSON-lines file every 250 ms into ``--out``; the file released at
``start + (i + 1) * 250 ms`` holds the readings created in
``[start + i * 250, start + (i + 1) * 250)`` ms, and each reading's
``timestamp`` is its due creation time. One manifest line per file
(index, due time, write time, events, newest event's creation time) goes
to ``--manifest``, from which the
benchmark computes the generator's lag and the source backlog.

    python3 perfbench/livegen.py --out DIR --manifest FILE --seed N \
        --start-ms EPOCH_MS --seconds S
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data import jsonl_lines, sensor_events, write_atomic  # noqa: E402

PERIOD_MS = 250


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start-ms", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args()

    n_files = int(a.seconds * 1000 / PERIOD_MS)
    ev = sensor_events(np.random.default_rng(a.seed), a.start_ms, n_files * PERIOD_MS)
    bounds = np.searchsorted(ev["ts"], a.start_ms + PERIOD_MS * np.arange(n_files + 1))
    # format every file before the schedule starts: release is then one write
    texts = [jsonl_lines(ev, int(bounds[i]), int(bounds[i + 1])) for i in range(n_files)]
    with open(a.manifest, "w") as man:
        for i, text in enumerate(texts):
            due_ms = a.start_ms + (i + 1) * PERIOD_MS
            delay = due_ms / 1000.0 - time.time()
            if delay > 0:
                time.sleep(delay)
            write_atomic(a.out, f"live_{i:06d}.json", text)
            lo, hi = int(bounds[i]), int(bounds[i + 1])
            man.write(json.dumps({
                "i": i, "due_ms": due_ms, "written_ms": time.time() * 1000.0,
                "events": hi - lo,
                "newest_ms": int(ev["ts"][hi - 1]) if hi > lo else None,
            }) + "\n")
            man.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
