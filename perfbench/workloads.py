"""The benchmark's workloads.  Each drives the library only through its
public entry points and keeps its passes' outputs for the checks that run
after the timed passes.

A workload has ``OPS`` (the operations of one pass), ``WARMUP`` (warm
passes run between the cold pass and the measured ones, not measured), ``prepare()`` (input
generation and expected outputs, not timed), ``run_pass(label)`` (one
timed pass; returns per-operation seconds), ``check(label)`` (the pass's
operations whose output is wrong), ``output_bytes()`` (what the cold pass
left on disk) and, for traced runs, ``probe_layers()`` (untimed layer
probes after the passes) and ``layer_metrics()``.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import os
import time
from pathlib import Path

from perfbench.pager import ATE, DE, SP, TRIBUNAIS, Pager, write_pages

MB = 1024 * 1024


def tree_bytes(path: Path) -> int:
    """Apparent size of every file under directory ``path`` (0 if missing)."""
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def load_tool(root: Path, name: str):
    """Import ``tools/<name>.py`` of the checkout as a module."""
    spec = importlib.util.spec_from_file_location(
        f"perfbench_tool_{name}", root / "tools" / f"{name}.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def spans_in(tracer, label: str, name: str) -> list[dict]:
    """Spans called ``name`` inside pass ``label``."""
    (top,) = tracer.find(f"pass.{label}")
    return [s for s in tracer.subtree(top) if s["name"] == name]


class EtlIngest:
    """The paper's pipeline: ``pipeline.run`` over a seeded synthetic
    DataJud pager, writing Parquet-zstd, CSV and the hour histogram."""

    name = "etl_ingest"
    OPS = ["pipeline.run"]
    WARMUP = 2  # the JVM JIT speeds the first warm passes up by 20-40%
    PAGES, SIZE = 3, 1000  # 4 tribunals × 3 pages × 1000 hits = 12k processos

    def __init__(self, spark, root: Path, run_dir: Path, seed: int, tracer):
        self.spark, self.root, self.run_dir = spark, root, run_dir
        self.seed, self.tracer = seed, tracer
        self.pages_dir = run_dir / "pages"
        self.out = run_dir / "out"
        self.fetch_probe: dict = {}

    def prepare(self) -> None:
        self.expected = write_pages(str(self.pages_dir), self.seed, self.PAGES, self.SIZE)

    def _source(self, counter=None):
        from jurimetria_etl_spark.sources.datajud import DataJudSource

        pager = Pager(str(self.pages_dir), self.SIZE, counter)
        return DataJudSource(self.spark, transport=pager, page_size=self.SIZE)

    def run_pass(self, label: str) -> dict[str, float]:
        from jurimetria_etl_spark import pipeline

        out = self.out / label
        t0 = time.perf_counter()
        if not self.tracer.enabled:
            args = pipeline.make_parser().parse_args(
                ["--tribunais", *TRIBUNAIS, "--de", DE, "--ate", ATE, "--out-dir", str(out)]
            )
            pipeline.run(args, source=self._source())
        else:
            self._traced_run(out)
        return {self.OPS[0]: time.perf_counter() - t0}

    def _traced_run(self, out: Path) -> None:
        """``pipeline.run``'s steps one by one, in its order, each in a span."""
        from jurimetria_etl_spark.pipeline import build_dataframe
        from jurimetria_etl_spark.sinks.writers import (
            plot_horario,
            render_movimentos_json,
            write_csv,
            write_parquet,
        )

        tr = self.tracer
        with tr.span("pipeline.build"):
            df = build_dataframe(self.spark, TRIBUNAIS, de=DE, ate=ATE, source=self._source())
            df = render_movimentos_json(df)
        out.mkdir(parents=True, exist_ok=True)
        with tr.span("sinks.writers.parquet"):
            write_parquet(df, str(out / "jurimetria.parquet"), single_file=True)
        with tr.span("pipeline.readback"):
            back = self.spark.read.parquet(str(out / "jurimetria.parquet"))
            print(f"Total de processos: {back.count():,}")
        with tr.span("sinks.writers.csv"):
            write_csv(back, str(out / "jurimetria.csv"), single_file=True)
        with tr.span("sinks.writers.chart"):
            plot_horario(back, str(out / "horario_jurimetria.jpg"))

    def check(self, label: str) -> list[str]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        out = self.out / label
        try:
            table = pq.read_table(out / "jurimetria.parquet")
            micros = table.column("data_ajuizamento").cast(pa.timestamp("us")).cast(pa.int64())
            hours = [0] * 24
            for us in micros.to_pylist():
                if us is not None:
                    hours[dt.datetime.fromtimestamp(us / 1e6, SP).hour] += 1
            csv_parts = list((out / "jurimetria.csv").glob("part-*.csv"))
        except (OSError, KeyError, pa.ArrowException) as e:
            print(f"perfbench: {label} output unreadable: {e}")
            return self.OPS
        ok = (
            table.num_rows == self.expected["rows"]
            and hours == self.expected["hours"]
            and len(csv_parts) == 1
            and csv_parts[0].stat().st_size > 0
        )
        if not ok:
            print(
                f"perfbench: {label} output mismatch: rows {table.num_rows} "
                f"vs {self.expected['rows']}, hours {hours} vs {self.expected['hours']}, "
                f"csv parts {len(csv_parts)}"
            )
        return [] if ok else self.OPS

    def output_bytes(self) -> int:
        return tree_bytes(self.out / "cold")

    def probe_layers(self) -> None:
        """``parallel_scan`` into a noop sink, outside the passes: the
        fetch alone, without the coalesce the single-file write adds."""
        tr = self.tracer
        counter = self.spark.sparkContext.accumulator(0)
        with tr.span("sources.datajud.fetch") as s:
            hits = self._source(counter).parallel_scan(TRIBUNAIS)
            hits.write.format("noop").mode("overwrite").save()
        self.fetch_probe = {"span": s, "pages": counter.value}

    def layer_metrics(self) -> dict[str, float]:
        tr = self.tracer
        fetch = self.fetch_probe["span"]

        def one(name: str) -> dict:
            return spans_in(tr, "cold", name)[0]

        parquet = one("sinks.writers.parquet")
        cold = self.out / "cold"
        return {
            "sources.datajud.fetch_s": fetch["end"] - fetch["start"],
            "sources.datajud.pages": self.fetch_probe["pages"],
            "sources.datajud.fetch_tasks": tr.stats(fetch)["tasks"],
            "pipeline.build_s": _dur(one("pipeline.build")),
            "sinks.writers.parquet_s": _dur(parquet),
            "sinks.writers.parquet_tasks": tr.stats(parquet)["tasks"],
            "sinks.writers.csv_s": _dur(one("sinks.writers.csv")),
            "sinks.writers.chart_s": _dur(one("sinks.writers.chart")),
            "sinks.writers.parquet_mb": tree_bytes(cold / "jurimetria.parquet") / MB,
            "sinks.writers.csv_mb": tree_bytes(cold / "jurimetria.csv") / MB,
        }


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


class CurationOps:
    """Training-data curation queries from the plan registry over
    ``tools/gen_testdata.py`` output, each run to the client (``collect``)
    and checked against its DuckDB oracle's digest."""

    name = "curation_ops"
    SF = 0.01
    OPS = ["x41_ann_store_topk", "x37b_hybrid_search_ann"]
    WARMUP = 0  # the first warm pass is 0-20% slower; the median of 3 drops it
    TABLES = "region nation customer supplier part orders lineitem events documents embeddings"

    def __init__(self, spark, root: Path, run_dir: Path, seed: int, tracer):
        self.spark, self.root, self.run_dir = spark, root, run_dir
        self.seed, self.tracer = seed, tracer
        self.data_dir = run_dir / "data"
        self.results: dict[str, dict] = {}
        self.plan_s = 0.0  # Catalyst time of the cold pass's executions
        self.persisted = 0  # persisted RDDs left after the cold pass

    def prepare(self) -> None:
        import duckdb

        from jurimetria_etl_spark.plans.corpus import full_registry

        load_tool(self.root, "gen_testdata").generate(self.SF, str(self.data_dir), self.seed)
        self.canon = load_tool(self.root, "check_correctness")
        registry = full_registry()
        self.plans = {q: registry[q].spark for q in self.OPS}
        con = duckdb.connect()
        try:
            for t in self.TABLES.split():
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')"
                )
            self.expected = {}
            for q in self.OPS:
                rel = con.sql(registry[q].oracle)
                cols, rows = rel.columns, rel.fetchall()
                self.expected[q] = (sorted(cols), len(rows), self.canon.hash_rows(cols, rows))
        finally:
            con.close()

    def run_pass(self, label: str) -> dict[str, float]:
        tr, times, results = self.tracer, {}, {}
        for q in self.OPS:
            t0 = time.perf_counter()
            try:
                with tr.span(f"query.{q}"):
                    with tr.span("plans.build"):
                        df = self.plans[q](self.spark, str(self.data_dir))
                    with tr.span("spark.execute"):
                        rows = [tuple(r) for r in df.collect()]
                results[q] = (df.columns, rows)
            except Exception as e:  # one failed query must not hide the others
                print(f"perfbench: {label} {q} raised {type(e).__name__}: {e}")
                results[q] = None
            times[q] = time.perf_counter() - t0
            if tr.enabled and label == "cold" and results[q] is not None:
                self.plan_s += _phase_seconds(df._jdf.queryExecution().tracker().phases())
        self.results[label] = results
        if tr.enabled and label == "cold":
            self.persisted = len(self.spark.sparkContext._jsc.getPersistentRDDs())
        return times

    def check(self, label: str) -> list[str]:
        bad = []
        for q, got in self.results[label].items():
            if got is None:
                bad.append(q)
                continue
            cols, rows = got
            want = self.expected[q]
            have = (sorted(cols), len(rows), self.canon.hash_rows(cols, rows))
            if have != want:
                print(f"perfbench: {label} {q} digest {have[1:]} vs oracle {want[1:]}")
                bad.append(q)
        return bad

    def output_bytes(self) -> int:
        """What the plan functions left in the temp dir: the stores and
        curated intermediates built on first use."""
        return tree_bytes(Path(os.environ["TMPDIR"]))

    def probe_layers(self) -> None:
        pass

    def layer_metrics(self) -> dict[str, float]:
        tr, out = self.tracer, {}
        for label in ("cold", "warm"):
            builds = spans_in(tr, label, "plans.build")
            pre = "plans." if label == "cold" else "plans.warm_"
            out[pre + "build_s"] = sum(_dur(s) for s in builds)
            out[pre + "build_jobs"] = sum(tr.stats(s)["jobs"] for s in builds)
            for q in self.OPS:
                out[f"query.{q}.{label}_s"] = _dur(spans_in(tr, label, f"query.{q}")[0])
        out["spark.plan_s"] = self.plan_s
        out["cache.persisted_after_pass"] = self.persisted
        return out


def _phase_seconds(phases) -> float:
    """Catalyst analysis + optimization + planning time of one execution,
    from ``QueryExecution.tracker().phases()`` (a Scala map)."""
    it = phases.valuesIterator()
    total = 0
    while it.hasNext():
        p = it.next()
        total += p.endTimeMs() - p.startTimeMs()
    return total / 1000.0


WORKLOADS = {w.name: w for w in (EtlIngest, CurationOps)}
