"""Isolated per-query probe with per-pass host-steal capture — the
flag-adjudication instrument behind the r15 t04/t19/x05 verdicts.

Runs ONE registered query N times through the noop sink in a fresh
session and prints a JSON line with the pass times, the KVM steal
jiffies accumulated during each pass, and the loadavg at exit.  Point
``repo`` at a worktree of an older commit to A/B code versions on the
same host; alternate invocations (ABBA) so steal waves land on both
sides:

    git worktree add /tmp/wt_old <commit>
    python tools/quiet_probe.py --repo /root/repo      --query t04_returned_items
    python tools/quiet_probe.py --repo /tmp/wt_old     --query t04_returned_items
    python tools/quiet_probe.py --repo /tmp/wt_old     --query t04_returned_items
    python tools/quiet_probe.py --repo /root/repo      --query t04_returned_items

Interpretation rule from the r15 adjudications: compare passes at
MATCHED steal (ideally < ~50 jiffies); a median computed across
mixed-steal passes compares the hypervisor, not the code.  Steal spans
of 2 → 2534 jiffies moved the same query's pass time 0.82 → 9.4 s.

Why bench.py can't serve this purpose: its warm medians run inside one
long session after 57 other queries (page cache, JIT, block-manager
state), so a flag needs an isolated, steal-annotated measurement to
separate code from host — this tool is that measurement.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time


def steal_jiffies() -> int:
    """Cumulative host steal (``/proc/stat`` cpu line, field 8).

    No fallback (r15 ADVICE): this is an interactive adjudication
    instrument — a read failure must surface as an error, not as a
    silent 0 that would turn one side of a per-pass delta into a wild
    negative/inflated entry."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--repo", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--query", required=True)
    ap.add_argument("--passes", type=int, default=7)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    sys.path.insert(0, args.repo)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from jurimetria_etl_spark.plans.registry import REGISTRY
    from jurimetria_etl_spark.session import get_spark

    fn = REGISTRY[args.query].spark
    spark = get_spark("quiet_probe")
    spark.read.parquet(f"{args.sf_dir}/lineitem.parquet").count()
    spark.sparkContext.setJobDescription(
        f"quiet_probe:{args.query}:{args.repo}")
    # cold pass builds any fixture/store and compiles the plan — untimed,
    # matching bench.py's cold/warm split
    fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
    times: list[float] = []
    steals: list[int] = []
    for _ in range(args.passes):
        s0 = steal_jiffies()
        t0 = time.perf_counter()
        fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        times.append(round(time.perf_counter() - t0, 3))
        steals.append(steal_jiffies() - s0)
    print(json.dumps({
        "repo": args.repo,
        "query": args.query,
        "times": times,
        # statistics.median, not sorted()[n//2] (r15 ADVICE): the index
        # form reads the upper-middle element on an even pass count
        "median": round(statistics.median(times), 3),
        "steal_jiffies_per_pass": steals,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
