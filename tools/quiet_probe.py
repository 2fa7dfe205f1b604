"""Isolated per-query probe with per-pass host-steal capture — the
flag-adjudication instrument behind the r15 t04/t19/x05 verdicts, and the
sf1 core-scaling probe.

Runs each registered query given to ``--query`` N times through the noop
sink in one fresh session and prints one JSON line per query with the
pass times, the KVM steal jiffies accumulated during each pass, the
session's core count (``cpus``) and the loadavg after the query.  A query
that raises gets an ``error`` field in its line and the run moves on to
the next query.  Point ``repo`` at a checkout of an older commit to A/B
code versions on the same host; alternate invocations (ABBA) so steal
waves land on both sides:

    git clone -q . ../old && git -C ../old checkout -q <commit>
    python tools/quiet_probe.py --repo .      --query t04_returned_items
    python tools/quiet_probe.py --repo ../old --query t04_returned_items
    python tools/quiet_probe.py --repo ../old --query t04_returned_items
    python tools/quiet_probe.py --repo .      --query t04_returned_items

Interpretation rule from the r15 adjudications: compare passes at
MATCHED steal (ideally < ~50 jiffies); a median computed across
mixed-steal passes compares the hypervisor, not the code.  Steal spans
of 2 → 2534 jiffies moved the same query's pass time 0.82 → 9.4 s.

Core scaling at sf1: the sf0.1 8-vs-32-core block mostly measured
Spark's job/stage floor (~0.1–1 s of real work per query), so its ratios
said nothing about parallelism.  The top sf1 warm costs (BENCH_SF1.json,
r15) each run seconds of real work; run them at two core counts and
ratio the medians (the committed artifact is SCALING_SF1_r16.json):

    SPARK_GRAFT_CPUS=32 python tools/quiet_probe.py --sf-dir _scale/sf1 --passes 3 \\
        --query x43_curation_funnel q32_percentile x18_near_dup_clusters \\
        q32b_percentile_hist x13b_cosine_join_scaled x37_hybrid_search \\
        x05_minhash_near_dups q20_array_agg x22_training_shards \\
        x35_bm25_search x28_duplicate_spans x29_boilerplate_spans

and again with ``SPARK_GRAFT_CPUS=8``.

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


def probe(fn, spark, sf_dir: str, passes: int) -> dict:
    """Pass times and per-pass steal of ``fn`` after one untimed cold
    pass (fixtures, stores and the plan compile, as bench.py splits
    cold from warm)."""
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    times: list[float] = []
    steals: list[int] = []
    for _ in range(passes):
        s0 = steal_jiffies()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times.append(round(time.perf_counter() - t0, 3))
        steals.append(steal_jiffies() - s0)
    return {
        "times": times,
        # statistics.median, not sorted()[n//2] (r15 ADVICE): the index
        # form reads the upper-middle element on an even pass count
        "median": round(statistics.median(times), 3),
        "steal_jiffies_per_pass": steals,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--repo", default=os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--query", nargs="+", required=True)
    ap.add_argument("--passes", type=int, default=7)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    sys.path.insert(0, args.repo)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    from jurimetria_etl_spark.plans.registry import REGISTRY
    from jurimetria_etl_spark.session import get_spark

    spark = get_spark("quiet_probe")
    cpus = spark.sparkContext.defaultParallelism
    spark.read.parquet(f"{args.sf_dir}/lineitem.parquet").count()
    for name in args.query:
        spark.sparkContext.setJobDescription(f"quiet_probe:{name}:{args.repo}")
        line: dict = {"repo": args.repo, "query": name}
        try:
            line.update(probe(REGISTRY[name].spark, spark, args.sf_dir, args.passes))
        except Exception as e:  # keep measuring the rest
            line["error"] = f"{type(e).__name__}: {e}"[:200]
        line["loadavg"] = [round(x, 2) for x in os.getloadavg()]
        line["cpus"] = cpus
        print(json.dumps(line), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
