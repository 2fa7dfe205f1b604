"""Core-scaling evidence at sf1 (r15 verdict item 5): the sf0.1
8-vs-32-core block mostly measured Spark's job/stage floor (~0.1–1 s of
real work per query), so its ratios said nothing about parallelism.
This probe runs the TOP-N most expensive sf1 warm queries — where each
query does seconds of real work — at the CURRENT core count
(``SPARK_GRAFT_CPUS``, the bench's own contract) and prints one JSON
line of warm medians with per-pass steal context.  Run it twice:

    SPARK_GRAFT_CPUS=32 python tools/sf1_core_scaling.py
    SPARK_GRAFT_CPUS=8  python tools/sf1_core_scaling.py

and ratio the medians; the committed artifact is SCALING_SF1_r16.json.
Same methodology as bench.py (noop sink, cold pass untimed, median of
3 warm passes) and quiet_probe (per-pass steal jiffies so a steal wave
is visible in the artifact instead of masquerading as a scaling
defect).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The top sf1 warm costs from BENCH_SF1.json (r15) — each runs multiple
# seconds of real distributed work at sf1, so an 8-vs-32 ratio on these
# measures parallelism, not the stage floor.
TOP_SF1 = [
    "x43_curation_funnel",
    "q32_percentile",
    "x18_near_dup_clusters",
    "q32b_percentile_hist",
    "x13b_cosine_join_scaled",
    "x37_hybrid_search",
    "x05_minhash_near_dups",
    "q20_array_agg",
    "x22_training_shards",
    "x35_bm25_search",
    "x28_duplicate_spans",
    "x29_boilerplate_spans",
]


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--sf-dir",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "_scale",
            "sf1",
        ),
    )
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--queries", nargs="*", default=TOP_SF1)
    args = ap.parse_args()

    from jurimetria_etl_spark.plans.registry import REGISTRY
    from jurimetria_etl_spark.session import get_spark

    spark = get_spark("sf1_core_scaling")
    cpus = spark.sparkContext.defaultParallelism
    spark.read.parquet(f"{args.sf_dir}/lineitem.parquet").count()
    out: dict = {
        "cpus": cpus,
        "sf_dir": args.sf_dir,
        "passes": args.passes,
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
        "warm": {},
        "series": {},
        "steal_jiffies": {},
        "errors": {},
    }
    for name in args.queries:
        fn = REGISTRY[name].spark
        spark.sparkContext.setJobDescription(f"sf1_scaling:{name}:{cpus}c")
        try:
            fn(spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()  # cold pass: fixtures + plan compile, untimed
            times, steals = [], []
            for _ in range(args.passes):
                s0 = steal_jiffies()
                t0 = time.perf_counter()
                fn(spark, args.sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                times.append(round(time.perf_counter() - t0, 3))
                steals.append(steal_jiffies() - s0)
        except Exception as e:  # keep measuring the rest
            out["errors"][name] = f"{type(e).__name__}: {e}"[:200]
            continue
        out["warm"][name] = round(statistics.median(times), 3)
        out["series"][name] = times
        out["steal_jiffies"][name] = steals
    out["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    out["warm_total"] = round(sum(out["warm"].values()), 3)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
