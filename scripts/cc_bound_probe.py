"""Connected-components regime probe: wall time and peak RSS of
`Graph.connected_components` on a random graph, with
`Graph.DRIVER_CC_EDGE_LIMIT` at its default (driver union-find) or at 0
(distributed min-label propagation). It is the measurement the bound
is sized from.

The graph has N edges whose endpoints are hashed into N vertex ids
(about 0.86 N distinct vertices, one giant component of low diameter,
the favourable case for min-label). It is written once as parquet into
the probe's scratch directory; each repeat then runs
`connected_components` and one aggregate over its labels.

Usage:
    PYTHONPATH=. python scripts/cc_bound_probe.py --edges 5000000
    PYTHONPATH=. python scripts/cc_bound_probe.py --edges 1000000 --bound 0

Prints one JSON line: wall seconds per repeat (the first is cold),
regime and rounds, component and vertex counts, and the peak RSS in MB
of the Python driver (`ru_maxrss`) and of the JVM (`VmHWM`; the JVM
grows its heap up to `spark.driver.memory` before it collects, so this
is an upper bound on what it needs). Linux only (reads /proc).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import sys
import time

from pyspark.sql import functions as F

from sora_spark.graph.graph import Graph
from sora_spark.scratch import scratch_dir
from sora_spark.session import build_session


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", type=int, default=5_000_000)
    ap.add_argument("--bound", choices=("default", "0"), default="default")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--cpus", type=int, default=4)
    args = ap.parse_args()

    spark = build_session(app_name="cc-bound-probe",
                          master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    path = os.path.join(scratch_dir("cc-bound-probe"), "edges.parquet")
    n = args.edges
    spark.range(n).select(
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n)).alias("s"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n)).alias("d"),
    ).write.mode("overwrite").parquet(path)
    if args.bound == "0":
        Graph.DRIVER_CC_EDGE_LIMIT = 0
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def peak_mb() -> dict:
        with open(f"/proc/{jvm_pid}/status") as f:
            jvm = next(int(ln.split()[1]) for ln in f
                       if ln.startswith("VmHWM"))
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return {"py_peak_rss_mb": py // 1024, "jvm_peak_rss_mb": jvm // 1024}

    out = {"edges": n, "bound": Graph.DRIVER_CC_EDGE_LIMIT,
           "before": peak_mb(), "walls": []}
    for _ in range(args.repeats):
        stats = {}
        t = time.perf_counter()
        labels = Graph(spark.read.parquet(path)).connected_components(
            max_iter=500, stats=stats
        )
        comps, verts = labels.agg(
            F.countDistinct("component"), F.count("*")
        ).collect()[0]
        out["walls"].append(round(time.perf_counter() - t, 2))
        print(out["walls"][-1], stats, file=sys.stderr, flush=True)
    out.update(stats, components=comps, vertices=verts, after=peak_mb())
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
