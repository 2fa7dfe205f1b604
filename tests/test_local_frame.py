"""Driver-held rows as local relations (session.local_frame): the same
rows, types and checks as ``createDataFrame(list, schema)``, planned as
a ``LocalTableScan`` instead of a ``PythonRDD`` scan, and the one way
the library builds a frame from Python rows."""

from __future__ import annotations

import ast
import datetime as dt
import os
import subprocess
import sys
from decimal import Decimal
from pathlib import Path

import pytest

from jurimetria_etl_spark.session import local_frame, python_fed_scans

ROOT = Path(__file__).resolve().parents[1]

DDL = (
    "i int, l bigint, d double, s string, m decimal(12,3), "
    "af array<float>, ad array<double>, day date, ts timestamp, "
    "st struct<n:int,at:timestamp>"
)
ROWS = [
    (
        7,
        2**40,
        0.1,
        "ação",
        Decimal("-12.500"),
        [1.5, -0.25],
        [0.1, 1e-300],
        dt.date(2020, 2, 29),
        # naive, and inside Sao Paulo's 2018 spring-forward gap
        dt.datetime(2018, 11, 4, 0, 30, 0, 123456),
        (3, dt.datetime(1999, 12, 31, 23, 59, 59)),
    ),
    (-(2**31), -1, float("inf"), "", Decimal("0.001"), [], [], None, None, None),
    (None, None, None, None, None, None, [None], None, None, (None, None)),
]


def mismatches(spark) -> list[str]:
    """Where ``local_frame`` and the list-built frame disagree on the
    shared rows (and on no rows at all): ``collect()`` output, then
    ``dtypes``."""
    out = []
    for rows in (ROWS, []):
        got, want = local_frame(spark, rows, DDL), spark.createDataFrame(rows, DDL)
        if got.collect() != want.collect():
            out.append(f"{len(rows)} rows: {got.collect()} != {want.collect()}")
        if got.dtypes != want.dtypes:
            out.append(f"{len(rows)} rows: {got.dtypes} != {want.dtypes}")
    return out


def test_local_frame_equals_the_list_path(spark):
    assert mismatches(spark) == []


def test_local_frame_reads_naive_datetimes_as_local_time():
    """A non-UTC process zone, as a collected timestamp group key brings
    back: both paths read a naive ``datetime`` as local time."""
    code = (
        "from jurimetria_etl_spark.session import get_spark\n"
        "from tests.test_local_frame import mismatches\n"
        "print(mismatches(get_spark('tz', master='local[1]')))\n"
    )
    env = {**os.environ, "TZ": "America/Sao_Paulo", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    run = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    assert run.stdout.strip().splitlines()[-1] == "[]"


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([(2**31,)], "i int"),  # int32 overflow
        ([("7",)], "i int"),  # wrong type
        ([(1.5,)], "l bigint"),  # a float pyarrow would truncate
        ([(None,)], "i int not null"),
    ],
)
def test_local_frame_keeps_the_list_path_checks(spark, rows, ddl):
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)
    with pytest.raises((TypeError, ValueError)):
        spark.createDataFrame(rows, schema)
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, rows, schema)


@pytest.mark.parametrize(
    "name",
    [
        "x41_ann_store_topk",
        "x37b_hybrid_search_ann",
        "x35_bm25_search",
        "q32b_percentile_hist",
    ],
)
def test_request_literals_start_no_python_worker(spark, name):
    """The retrieval queries' keyword queries and probe cells, and the
    percentile list, reach the plan as local relations: no PythonRDD in
    the result's lineage nor under any scan of the plan."""
    from jurimetria_etl_spark.plans.registry import REGISTRY

    df = REGISTRY[name].spark(spark, "/root/testdata/sf0.001")
    assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()
    assert python_fed_scans(df) == 0


def _create_dataframe_calls(tree: ast.AST, func: str | None = None):
    """(enclosing function, line) of every ``.createDataFrame(`` call."""
    if isinstance(tree, (ast.FunctionDef, ast.AsyncFunctionDef)):
        func = tree.name
    if (
        isinstance(tree, ast.Call)
        and isinstance(tree.func, ast.Attribute)
        and tree.func.attr == "createDataFrame"
    ):
        yield func, tree.lineno
    for child in ast.iter_child_nodes(tree):
        yield from _create_dataframe_calls(child, func)


def test_only_local_frame_builds_frames_from_python_rows():
    """``local_frame`` is the library's and the tools' one
    ``createDataFrame`` call; the municipios dimension's pandas frame
    already travels as Arrow."""
    calls = sorted(
        (str(p.relative_to(ROOT)), func)
        for base in ("jurimetria_etl_spark", "tools")
        for p in sorted((ROOT / base).rglob("*.py"))
        for func, _ in _create_dataframe_calls(
            ast.parse(p.read_text(encoding="utf-8"))
        )
    )
    assert calls == [
        (os.path.join("jurimetria_etl_spark", "session.py"), "local_frame"),
        (
            os.path.join("jurimetria_etl_spark", "sources", "municipios.py"),
            "load_municipios",
        ),
    ]
