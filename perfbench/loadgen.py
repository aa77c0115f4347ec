"""Open-loop file generator for the live feed of the ``ingest`` workload.

Moves pre-rendered CSV files from a staging directory into the
pipeline's source directory on a fixed schedule: file k is due at
``start + k * period`` whatever the pipeline is doing, so a stalled
pipeline builds a backlog instead of slowing the generator. Each move
is one ``os.rename``, so the source lists only complete files.

    python3 perfbench/loadgen.py STAGING SOURCE START PERIOD OUT_JSON

Files are moved in the sorted order of their names in STAGING. OUT_JSON
receives ``{"due": [...], "done": [...]}`` wall times per file.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    staging, source, start, period, out = sys.argv[1:6]
    start, period = float(start), float(period)
    names = sorted(os.listdir(staging))
    due, done = [], []
    for k, name in enumerate(names):
        t = start + k * period
        wait = t - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(staging, name), os.path.join(source, name))
        due.append(t)
        done.append(time.time())
    with open(out, "w") as fh:
        json.dump({"names": names, "due": due, "done": done}, fh)


if __name__ == "__main__":
    main()
