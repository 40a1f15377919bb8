"""Open-loop load generator: a process of its own that drips purchase lines
into a file-source directory on a fixed schedule.

Line ``i`` is due at ``start_at + i / rate``. Lines are grouped into chunks
of ``chunk_lines``; a chunk's deadline is the due time of its last line. Each
chunk is written beside the watched directory and renamed into it, so the
file source never lists a half-written file. The schedule is absolute: a
stall delays the chunks that were due during it, and the chunks after it go
out at their own deadlines, never later by the stall's length. Per chunk the
log records its line range, its deadline and when the rename happened, so
the caller can tell how late the generator ran and when each invoice's last
line became visible.

    python3 perfbench/loadgen.py LINES_FILE OUT_DIR STAGE_DIR LOG_FILE \
        --rate 133.33 --chunk-lines 20 --start-at EPOCH_SECONDS
"""

from __future__ import annotations

import argparse
import json
import os
import time


def run(lines, out_dir, stage_dir, rate, chunk_lines, start_at):
    log = []
    for k, first in enumerate(range(0, len(lines), chunk_lines)):
        end = min(first + chunk_lines, len(lines))
        deadline = start_at + (end - 1) / rate
        name = f"chunk_{k:06d}.txt"
        tmp = os.path.join(stage_dir, name)
        with open(tmp, "w") as f:
            f.write("\n".join(lines[first:end]) + "\n")
        delay = deadline - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(tmp, os.path.join(out_dir, name))
        log.append([first, end, deadline, time.time()])
    return log


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("lines_file")
    p.add_argument("out_dir")
    p.add_argument("stage_dir")
    p.add_argument("log_file")
    p.add_argument("--rate", type=float, required=True, help="lines per second")
    p.add_argument("--chunk-lines", type=int, default=20)
    p.add_argument("--start-at", type=float, required=True)
    a = p.parse_args()
    with open(a.lines_file) as f:
        lines = f.read().splitlines()
    os.makedirs(a.stage_dir, exist_ok=True)
    log = run(lines, a.out_dir, a.stage_dir, a.rate, a.chunk_lines, a.start_at)
    with open(a.log_file + ".tmp", "w") as f:
        json.dump(log, f)
    os.rename(a.log_file + ".tmp", a.log_file)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
