"""Second Spark application for the scaling probe, at a fixed width.

    python3 perfbench/width_worker.py <workload> <seed> <width> <work dir>

Opens the workload at ``local[<width>]`` (its pages are already cached by
the parent), runs its set-up and one untimed pass, prints ``ready``, then
runs one pass of the workload's job for every ``pass`` line on stdin and
answers with one JSON line ``{"wall_s": ..., "docs": ...}``. Stops on
``quit`` or end of input. The parent drives one pass at a time, so the
two widths never run together.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]


def main(argv: list[str]) -> int:
    name, seed, width, work = argv[0], int(argv[1]), int(argv[2]), argv[3]
    from session import start_session, stop_session
    from workloads import WORKLOADS

    spark = start_session(work, width, app=f"perfbench-width{width}")
    try:
        wl = WORKLOADS[name](spark, os.path.join(work, "out"), seed, width)
        wl.open()
        wl.prepare()
        wl.run_pass()
        print("ready", flush=True)
        for line in sys.stdin:
            if line.strip() != "pass":
                break
            p = wl.run_pass()
            print(json.dumps({"wall_s": p["wall_s"], "docs": p["docs"]}), flush=True)
    finally:
        stop_session(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
