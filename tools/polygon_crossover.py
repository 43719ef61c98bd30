"""Time ``zonal_stats`` through the broadcast kernel and the cell-cover join.

``polygon_join`` sends a polygon side of at most ``BROADCAST_THRESHOLD``
rows and ``BROADCAST_VERTICES`` vertices through the broadcast Arrow
kernel and a larger one through the distributed cell-cover join.  This
script runs both plans on the same inputs, over a range of polygon counts
and vertex counts, so those two bounds can be set from measurements.

Each size ``NxV`` is N star polygons of V vertices on a square lattice over
the region (each covers about a third of its lattice cell), against
uniform random points.  Per size it runs one warm-up of each plan, then
``--reps`` alternated pairs, and prints the median wall time and CPU time
of the whole process tree (this Python driver, the JVM and its Python
workers), both including the plan's driver-side work.  Both plans must
return the same match count.

Usage:  python tools/polygon_crossover.py [--points 100000] [--reps 3]
            [--sizes 100x8,1000x8,...] [--cores 4]
"""

from __future__ import annotations

import argparse
import math
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from proctree import tree_cpu_seconds  # noqa: E402

REGION = (0.0, 1000.0, 0.0, 1000.0)
SIZES = ("100x8,1000x8,10000x8,50000x8,100000x8,200000x8,"
         "100x64,10000x64,50000x64,200000x16,100x512,5000x512")


def polygon_table(spark, n: int, verts: int):
    """N lattice-centred star polygons of *verts* vertices each, radii
    jittered by a hash of (polygon, vertex)."""
    from pyspark.sql import functions as F

    w, e, s, north = REGION
    side = math.ceil(math.sqrt(n))
    dx, dy = (e - w) / side, (north - s) / side
    pid = F.col("id")
    cx = F.lit(w) + (pid % side + 0.5) * dx
    cy = F.lit(s) + (F.floor(pid / side) + 0.5) * dy

    def vertex(k):
        r = 0.25 + 0.2 * (F.abs(F.xxhash64(pid, k)) % 1000) / 1000.0
        t = k * (2 * math.pi / verts)
        return F.struct((cx + r * dx * F.cos(t)).alias("x"), (cy + r * dy * F.sin(t)).alias("y"))

    return spark.range(n).select(
        pid.alias("poly_id"), F.transform(F.sequence(F.lit(0), F.lit(verts - 1)), vertex).alias("vertices")
    )


def run_once(polygons_mod, points, polys, kernel: bool):
    from pyspark.sql import functions as F

    # no bound for the kernel, none at all for the cell join
    polygons_mod.BROADCAST_THRESHOLD = 10**9 if kernel else 0
    polygons_mod.BROADCAST_VERTICES = 10**12
    t0, c0 = time.perf_counter(), tree_cpu_seconds(os.getpid())
    zones = polygons_mod.zonal_stats(points, polys, "v", stats=("count", "mean"))
    matches = zones.agg(F.sum("count_v")).first()[0] or 0
    return time.perf_counter() - t0, tree_cpu_seconds(os.getpid()) - c0, matches


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--points", type=int, default=100_000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sizes", default=SIZES)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from verde_spark.operators import polygons as polygons_mod
    from verde_spark.session import make_session

    spark = make_session(
        f"local[{args.cores}]", "polygon_crossover",
        **{"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false",
           "spark.sql.shuffle.partitions": "8",
           "spark.driver.memory": "2g",
           "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1 -XX:-UsePerfData"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    w, e, s, north = REGION
    points = spark.range(args.points).select(
        (F.lit(w) + F.rand(1) * (e - w)).alias("easting"),
        (F.lit(s) + F.rand(2) * (north - s)).alias("northing"),
        F.randn(3).alias("v"),
    ).repartition(args.cores).cache()
    points.count()
    print(f"points={args.points} cores={args.cores} reps={args.reps}; "
          "median wall_s / cpu_s per zonal_stats call", flush=True)
    print(f"{'size':>10} {'vertices':>9} {'matches':>8} {'kernel wall':>12} {'cpu':>7} "
          f"{'cells wall':>11} {'cpu':>7}", flush=True)
    for size in args.sizes.split(","):
        n, verts = (int(v) for v in size.split("x"))
        polys = polygon_table(spark, n, verts).cache()
        polys.count()
        runs = {True: [], False: []}
        for rep in range(args.reps + 1):
            for kernel in ((True, False) if rep % 2 == 0 else (False, True)):
                wall, cpu, matches = run_once(polygons_mod, points, polys, kernel)
                if rep:  # the first pair warms up
                    runs[kernel].append((wall, cpu, matches))
        counts = {m for r in runs.values() for _, _, m in r}
        if len(counts) != 1:
            raise SystemExit(f"{size}: the plans disagree: match counts {sorted(counts)}")

        def med(kernel, i):
            return statistics.median(r[i] for r in runs[kernel])

        print(f"{size:>10} {n * verts:>9} {counts.pop():>8} {med(True, 0):>12.2f} {med(True, 1):>7.2f} "
              f"{med(False, 0):>11.2f} {med(False, 1):>7.2f}", flush=True)
        polys.unpersist()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
