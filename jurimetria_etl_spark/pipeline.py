"""End-to-end jurimetria pipeline — the Spark-first re-expression of
``/root/reference/src/jurimetria_pipeline.py`` (EP1/EP2, SURVEY §3).

``build_dataframe`` keeps the reference's keyword contract
(tribunais/classe_codigo/classe_nome/de/ate/max_processos —
``/root/reference/src/jurimetria_pipeline.py:187-194``) but returns a lazy
Spark DataFrame: scan (one partition per tribunal, so the union U1 is
the scan itself) → flatten (P1-P3) → NULL-pass date filter (W1) →
broadcast municipio enrichment (J1) → deterministic order+limit (O1/O3).

Determinism note (SURVEY §7 hard-part 3): the reference's ``max_processos``
cap depends on arrival order (tribunal CLI order × per-tribunal date desc).
Here the cap is an explicit ``orderBy(tribunal_order, data_ajuizamento
desc).limit(n)`` so the cut is reproducible; Catalyst plans it as
TakeOrderedAndProject (no global sort materialization).
"""

from __future__ import annotations

import argparse
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jurimetria_etl_spark.functions.temporal import local_date_bound_to_utc
from jurimetria_etl_spark.operators.filters import date_range_null_pass
from jurimetria_etl_spark.operators.flatten import flatten_hits
from jurimetria_etl_spark.operators.joins import enrich_municipio
from jurimetria_etl_spark.session import get_spark
from jurimetria_etl_spark.sinks.writers import (
    plot_horario,
    render_movimentos_json,
    write_artifacts,
)
from jurimetria_etl_spark.sources.datajud import DEFAULT_TRIBUNAIS, DataJudSource
from jurimetria_etl_spark.sources.municipios import load_municipios


def build_dataframe(
    spark: SparkSession,
    tribunais: list[str],
    classe_codigo: int | None = None,
    classe_nome: str | None = None,
    de: str | None = None,
    ate: str | None = None,
    max_processos: int | None = None,
    municipios_path: str | None = None,
    source: DataJudSource | None = None,
) -> DataFrame:
    """Reference EP2 contract; every stage is lazy Catalyst plan.

    The ingest is ``DataJudSource.parallel_scan`` — one Spark partition
    per tribunal, so N tribunals page concurrently on executors instead
    of looping on the driver (the reference loops sequentially at
    ``:217-232``); the source's transport must pickle.  An empty
    ``tribunais`` list gives an empty frame of the same schema.
    """
    source = source or DataJudSource(spark)
    hits = source.parallel_scan(tribunais, classe_codigo, classe_nome)
    df = flatten_hits(hits.select("tribunal", "hit.*"), F.col("tribunal"))

    lower = local_date_bound_to_utc(de) if de else None
    upper = local_date_bound_to_utc(ate) if ate else None
    if lower is not None or upper is not None:
        df = df.where(date_range_null_pass("data_ajuizamento", lower, upper))

    if max_processos:
        order = F.array_position(
            F.array(*[F.lit(t) for t in tribunais]), F.col("tribunal")
        )
        # numero_processo completes a TOTAL order: the date key has large
        # tie classes (same-instant filings; W1 keeps NULL dates, which
        # all compare equal at the tail), and a limit boundary inside a
        # tie class would otherwise pick survivors by task order —
        # breaking the documented reproducible cut.
        df = df.orderBy(
            order.asc(),
            F.col("data_ajuizamento").desc_nulls_last(),
            F.col("numero_processo").asc_nulls_last(),
        ).limit(max_processos)

    if municipios_path:
        df = enrich_municipio(df, load_municipios(spark, municipios_path))
    return df


def run(
    args: argparse.Namespace, source: DataJudSource | None = None
) -> dict[str, Any]:
    """EP1: ingest → render → artifacts.

    ``write_artifacts`` (the strategy behind ``persist``) runs the ingest
    lineage exactly once, into the one-file Parquet artifact (a shuffle to
    one writer task, so the tribunals still page in parallel), and counts
    and writes the CSV from reading that table back; on empty input it
    rolls the artifacts back (K3).  The chart reads the written table too,
    so no cache/persist of the corpus enters this path (test_pipeline_e2e
    pins that)."""
    spark = get_spark("jurimetria-pipeline")
    df = build_dataframe(
        spark,
        args.tribunais,
        args.classe_codigo,
        args.classe_nome,
        args.de,
        args.ate,
        args.max_processos,
        municipios_path=args.municipios,
        source=source,
    )
    back, total = write_artifacts(render_movimentos_json(df), args.out_dir)
    if total:
        plot_horario(back, f"{args.out_dir}/horario_jurimetria.jpg")
    return {"total": total}


def make_parser() -> argparse.ArgumentParser:
    """CLI mirroring the reference (``:306-341``)."""
    p = argparse.ArgumentParser(description="Pipeline de Jurimetria (PySpark)")
    p.add_argument("--tribunais", nargs="+", metavar="TJXX", default=DEFAULT_TRIBUNAIS)
    group = p.add_mutually_exclusive_group()
    group.add_argument("--classe-codigo", type=int)
    group.add_argument("--classe", dest="classe_nome")
    p.add_argument("--de", type=str)
    p.add_argument("--ate", type=str)
    p.add_argument("--max-processos", type=int)
    p.add_argument("--municipios", type=str, default=None)
    p.add_argument("--out-dir", type=str, default="dados_jurimetria")
    return p


def main(argv: list[str] | None = None) -> None:
    run(make_parser().parse_args(argv))


if __name__ == "__main__":
    main()
