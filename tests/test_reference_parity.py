"""Reference-parity unit tests: same inputs/expectations as the reference's
own tests (``/root/reference/tests/test_anpp_pipeline.py``) plus the edge
semantics SURVEY §7 flags as easy to lose (tz, null-pass filter, array sort
null→epoch, dim-join fallback)."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from jurimetria_etl_spark.functions.temporal import (
    hour_in_sp,
    iso_render_sp,
    local_date_bound_to_utc,
    utc_to_sp,
)
from jurimetria_etl_spark.operators.filters import date_range_null_pass
from jurimetria_etl_spark.operators.flatten import flatten_hits
from jurimetria_etl_spark.operators.joins import enrich_municipio
from jurimetria_etl_spark.operators.setops import union_all_by_name
from jurimetria_etl_spark.schemas import HIT_SCHEMA, MUNICIPIOS_SCHEMA, PROCESSO_SCHEMA
from jurimetria_etl_spark.sinks.writers import render_movimentos_json
from jurimetria_etl_spark.sources.datajud import build_base_url, build_query

# The sample hit doc from /root/reference/tests/test_anpp_pipeline.py:79-96
# (values, not code, reproduced — it is the parity contract).
SAMPLE_HIT = {
    "_source": {
        "numeroProcesso": "0000001-00.2023.8.26.0000",
        "classe": {"codigo": 12729, "nome": "Acordo de Não Persecução Penal"},
        "dataAjuizamento": "2023-01-10T12:00:00Z",
        "dataHoraUltimaAtualizacao": "2023-02-01T08:30:00Z",
        "formato": {"nome": "Eletrônico"},
        "orgaoJulgador": {
            "codigo": "1234",
            "nome": "1ª Vara Criminal",
            "codigoMunicipioIBGE": "2304400",
        },
        "grau": "1º Grau",
        "assuntos": [{"nome": "Penal"}, {}],
        "movimentos": [
            {"codigo": 2, "nome": "B", "dataHora": "2023-01-12T10:00:00Z"},
            {"codigo": 1, "nome": "A", "dataHora": "2023-01-11T10:00:00Z"},
        ],
    },
    "sort": [1673352000000],
}


def _hits_df(spark, hits):
    return spark.read.schema(HIT_SCHEMA).json(
        spark.sparkContext.parallelize([json.dumps(h) for h in hits])
    )


def test_tz_utc_to_sp_hour_shift(spark):
    """F1 — reference test: 2024-01-01T03:00:00Z → midnight SP (UTC-3)."""
    row = spark.range(1).select(
        utc_to_sp(F.lit("2024-01-01T03:00:00Z")).alias("sp"),
        hour_in_sp(F.lit("2024-01-01T03:00:00Z").cast("timestamp")).alias("h"),
    ).first()
    assert row["sp"] == dt.datetime(2024, 1, 1, 0, 0)
    assert row["h"] == 0


def test_tz_none_passthrough(spark):
    row = spark.range(1).select(utc_to_sp(F.lit(None).cast("string")).alias("sp")).first()
    assert row["sp"] is None


def test_tz_pre2019_dst(spark):
    """SP observed DST until 2019: 2018-01-01T03:00:00Z is UTC-2 → 01:00."""
    row = spark.range(1).select(
        hour_in_sp(F.lit("2018-01-01T03:00:00Z").cast("timestamp")).alias("h")
    ).first()
    assert row["h"] == 1


def test_iso_render_sp_offset(spark):
    row = spark.range(1).select(
        iso_render_sp(F.lit("2023-01-10T12:00:00Z").cast("timestamp")).alias("s"),
        iso_render_sp(F.lit("2018-01-01T03:00:00Z").cast("timestamp")).alias("dst"),
    ).first()
    assert row["s"] == "2023-01-10T09:00:00-03:00"
    assert row["dst"] == "2018-01-01T01:00:00-02:00"


def test_build_base_url():
    """F10 — reference test (test_anpp_pipeline.py:55-60)."""
    assert (
        build_base_url("TJSP")
        == "https://api-publica.datajud.cnj.jus.br/api_publica_tjsp/_search"
    )


def test_build_query_precedence():
    """S3 — name wins over code; neither → match_all."""
    assert build_query(12729, "Apelação") == {"term": {"classe.nome": "Apelação"}}
    assert build_query(12729, None) == {"term": {"classe.codigo": 12729}}
    assert build_query(None, None) == {"match_all": {}}


def test_flatten_sample_hit(spark):
    """P1 — the reference's mocked end-to-end smoke, Spark-side."""
    df = flatten_hits(_hits_df(spark, [SAMPLE_HIT]), "TJCE")
    # Compare names + types; nullability legitimately differs (lit/coalesce
    # produce non-nullable columns).
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        (f.name, f.dataType.simpleString()) for f in PROCESSO_SCHEMA.fields
    ]
    row = df.first()
    assert row["tribunal"] == "TJCE"
    assert row["numero_processo"] == "0000001-00.2023.8.26.0000"
    assert row["classe"] == "Acordo de Não Persecução Penal"
    # stored as UTC instant (session tz = UTC)
    assert row["data_ajuizamento"] == dt.datetime(2023, 1, 10, 12, 0)
    assert row["municipio"] == "2304400"
    assert row["sort"] == 1673352000000


def test_assuntos_missing_nome_empty_string(spark):
    """P2 — missing nome → '' (reference :65)."""
    df = flatten_hits(_hits_df(spark, [SAMPLE_HIT]), "TJCE")
    assert df.first()["assuntos"] == ["Penal", ""]


def test_movimentos_sorted_by_date(spark):
    """P3 — reference test: movimentos sorted ascending by dataHora
    (test_anpp_pipeline.py:47-53 expects codigo order [1, 2])."""
    df = flatten_hits(_hits_df(spark, [SAMPLE_HIT]), "TJCE")
    movs = df.first()["movimentos"]
    assert [m["codigo"] for m in movs] == [1, 2]
    assert movs[0]["data_hora"] == dt.datetime(2023, 1, 11, 10, 0)


def test_movimentos_null_datahora_sorts_first(spark):
    """P3 — NULL dataHora sorts as epoch → first (reference :81-82)."""
    hit = json.loads(json.dumps(SAMPLE_HIT))
    hit["_source"]["movimentos"] = [
        {"codigo": 9, "nome": "late", "dataHora": "2023-01-11T10:00:00Z"},
        {"codigo": 7, "nome": "nodate", "dataHora": None},
    ]
    df = flatten_hits(_hits_df(spark, [hit]), "TJCE")
    movs = df.first()["movimentos"]
    assert [m["codigo"] for m in movs] == [7, 9]
    assert movs[0]["data_hora"] is None


def test_date_range_filter_null_passes(spark):
    """W1 — NULL data_ajuizamento survives the range filter
    (reference :208-215); in-range kept, out-of-range dropped."""
    rows = [
        ("a", "2023-03-01T12:00:00Z"),
        ("b", None),
        ("c", "2022-01-01T12:00:00Z"),
    ]
    df = spark.createDataFrame(rows, "id string, d string").select(
        "id", F.col("d").cast("timestamp").alias("d")
    )
    kept = df.where(
        date_range_null_pass(
            "d",
            local_date_bound_to_utc("2023-01-01"),
            local_date_bound_to_utc("2023-12-31"),
        )
    )
    assert {r["id"] for r in kept.collect()} == {"a", "b"}


def test_date_bounds_are_sp_midnights(spark):
    """F5 — '2023-01-01' bound = SP midnight = 03:00 UTC; a 2023-01-01
    01:00 UTC instant (2022-12-31 22:00 SP) must be OUT of range."""
    df = spark.createDataFrame(
        [("x", "2023-01-01T01:00:00Z"), ("y", "2023-01-01T04:00:00Z")],
        "id string, d string",
    ).select("id", F.col("d").cast("timestamp").alias("d"))
    kept = df.where(
        date_range_null_pass("d", local_date_bound_to_utc("2023-01-01"), None)
    )
    assert {r["id"] for r in kept.collect()} == {"y"}


def test_enrich_municipio_fallback(spark):
    """J1 — matched code → name; unmatched keeps code; NULL stays NULL
    (reference :236-237); NULL-key dim rows dropped (W4)."""
    facts = spark.createDataFrame(
        [("p1", "2304400"), ("p2", "9999999"), ("p3", None)],
        "numero string, municipio string",
    )
    dim = spark.createDataFrame(
        [(23, "Ceará", "CE", 2304400, "Fortaleza", 312.3),
         (23, "Ceará", "CE", None, "Fantasma", 1.0)],
        MUNICIPIOS_SCHEMA,
    )
    out = {r["numero"]: r["municipio"] for r in enrich_municipio(facts, dim).collect()}
    assert out == {"p1": "Fortaleza", "p2": "9999999", "p3": None}


def test_enrich_municipio_is_broadcast(spark):
    """SURVEY §4 — the dim join must plan as BroadcastHashJoin, not SMJ."""
    facts = spark.createDataFrame([("p1", "2304400")], "numero string, municipio string")
    dim = spark.createDataFrame(
        [(23, "Ceará", "CE", 2304400, "Fortaleza", 312.3)], MUNICIPIOS_SCHEMA
    )
    plan = enrich_municipio(facts, dim)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_union_by_name_empty_and_drift(spark):
    u = union_all_by_name([], spark, PROCESSO_SCHEMA)
    assert u.count() == 0 and u.schema == PROCESSO_SCHEMA
    a = spark.createDataFrame([(1, "x")], "k int, a string")
    b = spark.createDataFrame([(2,)], "k int")
    got = union_all_by_name([a, b]).collect()
    assert {(r["k"], r["a"]) for r in got} == {(1, "x"), (2, None)}


# ─────────────────────────── r8 review regressions ──────────────────────────
def test_lenient_parse_coerces_under_ansi(spark):
    """r8 review (verified live pre-fix): Spark 4 defaults ANSI on and
    plain to_timestamp/to_date ABORT on malformed input — the F3/F4
    contract is the reference's errors='coerce' NULL."""
    from jurimetria_etl_spark.functions.temporal import (
        lenient_ts,
        reformat_br_date,
        utc_to_sp,
    )

    df = spark.createDataFrame(
        [("not-a-date",), ("2023-05-01T12:00:00Z",), ("99/99/9999",)],
        "s string",
    )
    rows = df.select(
        lenient_ts("s").alias("ts"),
        reformat_br_date("s").alias("d"),
        utc_to_sp("s").alias("sp"),
    ).collect()
    assert rows[0] == (None, None, None)
    assert rows[1]["ts"] is not None and rows[1]["sp"] is not None
    assert rows[2] == (None, None, None)


def test_iso_render_sp_keeps_nonzero_microseconds(spark):
    """r8 review: pd.Timestamp.isoformat() renders '.ffffff' whenever the
    instant has nonzero microseconds — F7 parity must too."""
    import pandas as pd

    from jurimetria_etl_spark.functions.temporal import iso_render_sp

    df = spark.createDataFrame(
        [
            ("2023-05-01T12:00:00.123Z",),
            ("2023-05-01T12:00:00Z",),
        ],
        "s string",
    )
    got = [
        r["iso"]
        for r in df.select(
            iso_render_sp(F.to_timestamp("s")).alias("iso")
        ).collect()
    ]
    want = [
        pd.Timestamp(s).tz_convert("America/Sao_Paulo").isoformat()
        for s in ("2023-05-01T12:00:00.123Z", "2023-05-01T12:00:00Z")
    ]
    assert got == want


def test_enrich_municipio_duplicate_codes_do_not_fan_out(spark):
    """r8 review: a duplicated CD_MUN in the dim must keep the join
    1:1 like the reference's dict lookup, not multiply fact rows."""
    from jurimetria_etl_spark.operators.joins import enrich_municipio

    procs = spark.createDataFrame([(1, "3550308")], "id long, municipio string")
    dim = spark.createDataFrame(
        [(3550308, "SP-a", 35), (3550308, "SP-b", 35)],
        "CD_MUN int, NM_MUN string, CD_UF int",
    )
    out = enrich_municipio(procs, dim).collect()
    assert len(out) == 1
    assert out[0]["municipio"] == "SP-b"  # deterministic max-name pick


def test_load_municipios_csv_dedups_last_wins(spark, tmp_path):
    """r8 ADVICE: the CSV adapter must resolve duplicate codes with the
    reference's dict-build rule — LAST row in file order wins — so a
    malformed dim names the same municipality on every adapter path
    (the join's max-name guard would pick 'ZZ-alpha' here)."""
    from jurimetria_etl_spark.sources.municipios import load_municipios

    csv = tmp_path / "mun.csv"
    csv.write_text(
        "CD_UF,NM_UF,NM_UF_SIGLA,CD_MUN,NM_MUN,AR_MUN_2024\n"
        "35,Sao Paulo,SP,3550308,ZZ-alpha,1.0\n"
        "35,Sao Paulo,SP,3550308,AA-last,1.0\n"
        "23,Ceara,CE,2304400,Fortaleza,2.0\n"
    )
    dim = load_municipios(spark, str(csv))
    rows = {r["CD_MUN"]: r["NM_MUN"] for r in dim.collect()}
    assert rows == {3550308: "AA-last", 2304400: "Fortaleza"}


def test_datajud_http_status_error_propagates():
    """r8 review: the reference swallows only the request ATTEMPT
    (connection errors); raise_for_status errors (401/5xx) crash loudly
    — a bad API key must not masquerade as an empty tribunal."""
    import pytest

    from jurimetria_etl_spark.sources.datajud import fetch_raw_hits

    class HTTPError(Exception):
        pass

    def bad_auth(url, headers, payload):
        raise HTTPError("401 Unauthorized")

    with pytest.raises(HTTPError):
        list(fetch_raw_hits("TJSP", transport=bad_auth))


def test_flatten_empty_sort_array_yields_null(spark):
    """r8 review (verified live pre-fix): a hit carrying "sort": []
    aborted the ingest with INVALID_ARRAY_INDEX under ANSI."""
    from jurimetria_etl_spark.operators.flatten import flatten_hits
    from jurimetria_etl_spark.schemas import HIT_SCHEMA

    hit = {"_source": {"numeroProcesso": "1"}, "sort": []}
    df = spark.createDataFrame([hit], HIT_SCHEMA)
    rows = flatten_hits(df, "TJCE").collect()
    assert len(rows) == 1 and rows[0]["sort"] is None


def test_movimentos_equal_timestamps_keep_input_order(spark):
    """r8 review: the reference's Python sort is STABLE — equal (or
    equally-NULL) dataHora movements keep input order, not (codigo,
    nome) order."""
    from jurimetria_etl_spark.operators.flatten import movimentos_sorted

    df = spark.createDataFrame(
        [
            (
                [
                    (9, "z-late", "2023-01-01T10:00:00Z"),
                    (1, "a-early", "2023-01-01T10:00:00Z"),
                    (5, "null-two", None),
                    (2, "null-one", None),
                ],
            )
        ],
        "movimentos array<struct<codigo:bigint,nome:string,dataHora:string>>",
    )
    got = df.select(movimentos_sorted("movimentos").alias("m")).first()["m"]
    # NULLs (epoch key) first in input order, then the tied pair in
    # input order: 5, 2, 9, 1
    assert [m["codigo"] for m in got] == [5, 2, 9, 1]


# movimentos as (codigo, nome, dataHora) triples for the render-kernel parity
# test; dataHora None is a NULL data_hora.
_LOOKALIKE = '"data_hora":"2023-01-01T00:00:00.000000-03:00"'
_RENDER_CASES = {
    "whole_second": [(1, "A", "2023-01-10T12:00:00Z")],
    "millis": [(1, "A", "2023-01-10T12:00:00.123Z")],
    "one_micro": [(1, "A", "2023-01-10T12:00:00.000001Z")],
    "dst_2018": [(1, "A", "2018-01-01T03:00:00Z")],
    "null_data_hora": [(1, "A", None), (2, "B", "2023-01-10T12:00:00Z")],
    "empty": [],
    "nome_lookalike": [(1, _LOOKALIKE, "2023-01-10T12:00:00Z")],
}


@pytest.mark.parametrize("case", sorted(_RENDER_CASES))
def test_render_movimentos_json_matches_iso_render_sp(spark, case):
    """F7+F8: the one-pass ``to_json`` render equals the per-element
    ``iso_render_sp`` render it replaced, byte for byte."""
    raw = spark.createDataFrame(
        [(_RENDER_CASES[case],)],
        "m array<struct<codigo: bigint, nome: string, s: string>>",
    )
    movs = F.transform(
        "m",
        lambda m: F.struct(
            m["codigo"].alias("codigo"),
            m["nome"].alias("nome"),
            F.to_timestamp(m["s"]).alias("data_hora"),
        ),
    )
    df = raw.select(movs.alias("movimentos"))
    reference = F.to_json(
        F.transform(
            "movimentos",
            lambda m: F.struct(
                m["codigo"].alias("codigo"),
                m["nome"].alias("nome"),
                iso_render_sp(m["data_hora"]).alias("data_hora"),
            ),
        )
    )
    row = render_movimentos_json(df.select("movimentos", reference.alias("want"))).first()
    assert row["movimentos"] == row["want"]
    got = json.loads(row["movimentos"])
    if case == "null_data_hora":
        assert "data_hora" not in got[0]
    if case == "nome_lookalike":
        assert got[0]["nome"] == _LOOKALIKE
        assert got[0]["data_hora"] == "2023-01-10T09:00:00-03:00"
