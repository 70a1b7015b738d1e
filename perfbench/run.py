#!/usr/bin/env python3
"""Request-level benchmark of the /task and /calc service paths.

    python3 perfbench/run.py --workload sync_cycles --seed 1 --seconds 20 --trace 0

Run from the repository root. Starts the real service (``api.make_server``
over ``OraChSparkService``) on loopback, drives one workload over HTTP
for ``--seconds``, checks every output against an independent DuckDB
evaluation, and prints one JSON detail line followed by the result line
(``correct``, ``attempted``, ``failed``, ``metrics``). ``--trace 1``
reports the per-layer metrics of a traced run instead of the end-to-end
ones. Scratch files go to ``.perfbench_work/`` (removed on exit) and
traced runs leave their spans in ``.perfbench_out/``. See NOTES.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse(argv):
    from runner import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "ora_ch_spark")):
        print(f"error: the program's sources (ora_ch_spark/) are not under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    try:
        import runner

        return runner.execute(args, ROOT, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass


if __name__ == "__main__":
    sys.exit(main())
