"""Run one benchmark workload in a fresh process and print its result.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  The run times Spark set-up, then a cold
pass with empty program caches, then the workload's warm-up passes
(checked and recorded, not measured), then identical measured warm
passes in the same session until they have taken ``--seconds`` (at
least three; ``warm_s`` is their median).
Output checks run after the timed passes.  ``--trace 1`` records spans around
each layer call and reports per-layer metrics instead of end-to-end ones.
The last line of stdout is one JSON object: correct, attempted, failed,
metrics; the line before it carries load, steal and JVM peak RSS.
Everything the run writes goes under ``.perfbench/`` of the checkout; its
run directory is deleted at exit, and a JSON record of the run
(per-operation times, spans, load and steal) stays in
``.perfbench/records``.
"""

import time

T0 = time.perf_counter()  # set-up is timed from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
BENCH_DIR = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))

from perfbench.tracing import Tracer, self_time  # noqa: E402
from perfbench.workloads import MB, WORKLOADS, CurationOps  # noqa: E402

MIN_WARM = 3  # measured warm passes per run, at least: the median drops one slow pass

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "output_mb": "MB"}
PER_LAYER = {
    "sources.datajud.fetch_s": "s",
    "sources.datajud.pages": "count",
    "sources.datajud.fetch_tasks": "count",
    "pipeline.build_s": "s",
    "sinks.writers.parquet_s": "s",
    "sinks.writers.parquet_tasks": "count",
    "sinks.writers.csv_s": "s",
    "sinks.writers.chart_s": "s",
    "sinks.writers.parquet_mb": "MB",
    "sinks.writers.csv_mb": "MB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.warm_build_s": "s",
    "plans.warm_build_jobs": "count",
    "cache.persisted_after_pass": "count",
    **{f"query.{q}.{p}_s": "s" for q in CurationOps.OPS for p in ("cold", "warm")},
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.busy_frac": "ratio",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.warm_jobs": "count",
    "spark.warm_tasks": "count",
    "spark.warm_task_s": "s",
    "spark.warm_busy_frac": "ratio",
    "trace.cold_s": "s",
    "trace.warm_s": "s",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(run_dir: Path) -> None:
    """Point every scratch location of the program, Spark and the JVM
    into ``run_dir``, and give Python workers the import path."""
    for sub in ("tmp", "jvm-tmp", "spark-local", "work"):
        (run_dir / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    paths = [str(ROOT), str(BENCH_DIR), os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    os.chdir(run_dir / "work")  # spark-warehouse and other cwd-relative output


def start_spark(run_dir: Path):
    from jurimetria_etl_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={run_dir / 'jvm-tmp'} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark


def _children(pid: int) -> set[int]:
    out = set()
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                out.add(int(d.name))
    return out


def descendants(pid: int) -> set[int]:
    found, todo = set(), [pid]
    while todo:
        for c in _children(todo.pop()) - found:
            found.add(c)
            todo.append(c)
    return found


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant (the JVM, Python workers), including children they
    have reaped."""
    total = 0
    for pid in {os.getpid()} | descendants(os.getpid()):
        try:
            fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def _alive(pid: int) -> bool:
    try:
        state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state != "Z"


def jvm_peak_rss_mb() -> float | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        for line in Path(f"/proc/{proc.pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    except (AttributeError, OSError):
        pass
    return None


def shutdown_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (the JVM, its Python worker daemon and workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in started:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def spark_metrics(tracer, span: dict, prefix: str) -> dict:
    s = tracer.stats(span)
    wall = span["end"] - span["start"]
    out = {
        f"spark.{prefix}jobs": s["jobs"],
        f"spark.{prefix}tasks": s["tasks"],
        f"spark.{prefix}task_s": s["task_s"],
        f"spark.{prefix}busy_frac": s["task_s"] / (wall * cores()),
    }
    if not prefix:
        out["spark.stages"] = s["stages"]
        out["spark.shuffle_write_mb"] = s["shuffle_write_bytes"] / MB
        out["spark.spill_mb"] = s["spill_bytes"] / MB
    return out


def measure(args, run_dir: Path, record: dict) -> dict:
    """Set up, run the passes, check them; returns the result object."""
    import bench  # the repo's harness; reused for its steal reader

    steal0 = bench._read_steal_sec()
    spark = start_spark(run_dir)
    setup_s = time.perf_counter() - T0
    try:
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, ROOT, run_dir, args.seed, tracer)
        t0 = time.perf_counter()
        wl.prepare()
        record["prepare_s"] = time.perf_counter() - t0

        walls: dict[str, float] = {}
        cpus: dict[str, float] = {}
        failed: dict[str, list[str]] = {}
        ops: dict[str, dict[str, float]] = {}

        def run(label: str) -> None:
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                with tracer.span(f"pass.{label}"):
                    ops[label] = wl.run_pass(label)
            except Exception as e:  # report the failed pass, keep the run going
                print(f"perfbench: pass {label} raised {type(e).__name__}: {e}")
                ops[label] = {}
                failed[label] = list(wl.OPS)
            walls[label] = time.perf_counter() - t0
            cpus[label] = tree_cpu_s() - c0

        run("cold")
        output_mb = wl.output_bytes() / MB
        for i in range(1, wl.WARMUP + 1):
            run(f"warmup{i}")
        measured = ["warm"]
        run("warm")
        while len(measured) < MIN_WARM or sum(walls[k] for k in measured) < args.seconds:
            measured.append(f"warm{len(measured) + 1}")
            run(measured[-1])
        t0 = time.perf_counter()
        for label in walls:
            failed.setdefault(label, wl.check(label))
        record["check_s"] = time.perf_counter() - t0
        n_failed = sum(len(f) for f in failed.values())
        warm_s = statistics.median(walls[k] for k in measured)

        if args.trace:
            wl.probe_layers()
            tracer.collect_spark_stats()
            cold, warm = tracer.find("pass.cold")[0], tracer.find("pass.warm")[0]
            metrics = dict.fromkeys(PER_LAYER, 0)
            metrics.update(wl.layer_metrics())
            metrics.update(spark_metrics(tracer, cold, ""))
            metrics.update(spark_metrics(tracer, warm, "warm_"))
            metrics["trace.cold_s"] = walls["cold"]
            metrics["trace.warm_s"] = walls["warm"]
            metrics["trace.unattributed_s"] = self_time(cold, tracer.children(cold))
            metrics["trace.overhead_s"] = tracer.overhead_s
            units = PER_LAYER
            record["spans"] = tracer.dump()
        else:
            metrics = {
                "setup_s": setup_s,
                "cold_s": walls["cold"],
                "warm_s": warm_s,
                "output_mb": output_mb,
            }
            units = END_TO_END
        record.update(
            setup_s=setup_s,
            pass_s=walls,
            pass_cpu_s=cpus,
            op_s=ops,
            failed=failed,
            jvm_peak_rss_mb=jvm_peak_rss_mb(),
        )
    finally:
        t0 = time.perf_counter()
        shutdown_spark(spark)
        record["shutdown_s"] = time.perf_counter() - t0
    record["steal_s"] = bench._read_steal_sec() - steal0
    record["steal_reader_ok"] = not bench._STEAL_READER_FAILED
    return {
        "correct": n_failed == 0,
        "attempted": len(wl.OPS) * len(walls),
        "failed": n_failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "jurimetria_etl_spark" / "pipeline.py").is_file():
        print(f"perfbench: no jurimetria_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup below
    state = ROOT / ".perfbench"
    run_dir = state / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    record = {"args": vars(args), "cores": cores(), "loadavg_start": os.getloadavg()}
    try:
        isolate(run_dir)
        result = measure(args, run_dir, record)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    record["loadavg_end"] = os.getloadavg()
    record["result"] = result
    (state / "records").mkdir(parents=True, exist_ok=True)
    out = state / "records" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out.write_text(json.dumps(record, indent=1))
    print(f"perfbench: record in {out.relative_to(ROOT)}")
    keys = ("loadavg_start", "loadavg_end", "steal_s", "steal_reader_ok", "jvm_peak_rss_mb")
    print("perfbench: steadiness " + json.dumps({k: record.get(k) for k in keys}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
