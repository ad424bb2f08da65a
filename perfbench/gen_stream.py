"""Open-loop event generator for the ``stream_game`` workload.

Runs as its own process.  It first builds its events (the start of the
seeded injector stream; the drained backlog continues it), then writes
one chunk file every ``--period`` seconds on a fixed schedule, whether or
not the consumer keeps up; the first file is due at ``--start`` (epoch
seconds).  At the end it writes a manifest with each file's due time and
the time it was actually written.

    python3 perfbench/gen_stream.py --seed 7 --dir FEED --files 48 \
        --events-per-file 250 --period 0.25 --start 1760000000.125 \
        --events-per-sec 50 --manifest FEED.manifest.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402


def chunk_name(index: int) -> str:
    return f"chunk_{index:06d}.json"


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    for name, typ in (("seed", int), ("dir", str), ("files", int),
                      ("events-per-file", int), ("period", float),
                      ("start", float), ("events-per-sec", int),
                      ("manifest", str)):
        p.add_argument(f"--{name}", type=typ, required=True)
    a = p.parse_args(argv)
    rows = datagen.game_events(a.seed, a.files * a.events_per_file,
                               a.events_per_sec)
    manifest = []
    for k in range(a.files):
        due = a.start + k * a.period
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        name = chunk_name(k)
        datagen.write_chunk(
            os.path.join(a.dir, name),
            rows[k * a.events_per_file:(k + 1) * a.events_per_file])
        manifest.append({"file": name, "due": due, "written": time.time(),
                         "events": a.events_per_file})
    with open(a.manifest, "w") as f:
        json.dump(manifest, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
