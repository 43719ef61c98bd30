"""Count the driver's py4j round trips per perfbench iteration, by call site.

Every call from the driver's Python into the JVM (building a Column,
planning a DataFrame, running an action) is one
``ClientServerConnection.send_command``.  This script wraps that method,
runs untraced, checked perfbench iterations of one workload, and prints
the mean count per iteration, split by the innermost ``verde_spark/`` or
``perfbench/`` frame of each call.  Set-up, the oracle and one warm-up
iteration run before counting starts.

Usage:  python tools/driver_roundtrips.py --workload grid_spline
            [--seed 7] [--iterations 3] [--top 20]

Run from the root of a checkout; the last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import run  # noqa: E402  (perfbench/run.py)

SITES = tuple(os.path.join(ROOT, d) + os.sep for d in ("verde_spark", "perfbench"))


def call_site() -> str:
    """``path:line function`` of the innermost engine or benchmark frame."""
    frame = sys._getframe(2)
    while frame is not None:
        path = frame.f_code.co_filename
        if path.startswith(SITES):
            return f"{os.path.relpath(path, ROOT)}:{frame.f_lineno} {frame.f_code.co_name}"
        frame = frame.f_back
    return "(outside verde_spark and perfbench)"


def count_round_trips(wl, spark, state, iterations: int):
    """(calls per site, summed over *iterations*; check errors)."""
    from py4j.clientserver import ClientServerConnection
    from workloads import NoTrace

    sites = collections.Counter()
    send = ClientServerConnection.send_command

    def counted(self, *args, **kwargs):
        sites[call_site()] += 1
        return send(self, *args, **kwargs)

    errors = []
    ClientServerConnection.send_command = counted
    try:
        for _ in range(iterations):
            result = wl.iterate(spark, state, NoTrace())
            errors += wl.check(result)
    finally:
        ClientServerConnection.send_command = send
    return sites, errors


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, help="grid_spline or spatial_join")
    parser.add_argument("--seed", type=int, default=7)
    parser.add_argument("--iterations", type=int, default=3)
    parser.add_argument("--top", type=int, default=20)
    args = parser.parse_args(argv)

    # numpy and the JVM read the pinned-thread environment when they start
    work = tempfile.mkdtemp(prefix="driver_roundtrips-")
    try:
        run.configure_environment(work)
        run.import_engine()
        from workloads import WORKLOADS, NoTrace

        wl = WORKLOADS[args.workload](args.seed)
        spark = run.start_session(run.CORES, work)
        try:
            paths = wl.generate(spark, os.path.join(work, "input"))
            state = wl.prepare(spark, paths)
            wl.build_oracle(spark, paths, state)
            wl.reference = wl.iterate(spark, state, NoTrace())  # warm-up
            sites, errors = count_round_trips(wl, spark, state, args.iterations)
        finally:
            run.stop_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    total = sum(sites.values()) / args.iterations
    print(f"workload {args.workload} seed {args.seed} iterations {args.iterations}")
    print(f"py4j round trips per iteration: {total:.0f}")
    for site, n in sites.most_common(args.top):
        print(f"{n / args.iterations:8.1f}  {site}")
    for err in errors[:10]:
        print(f"check failed: {err}")
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "iterations": args.iterations,
        "roundtrips_per_iteration": total, "correct": not errors,
    }))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
