"""Explicit schemas for every table the engine touches.

The reference's schema is implicit (dict keys of ``parse_hit``,
``/root/reference/src/jurimetria_pipeline.py:163-179``; pandas dtype
inference at ``:229``).  At 100 TB, schema inference on JSON is a full extra
pass over the data — so every scan here declares its schema up front.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ── Raw DataJud hit (one ES hit), per the sample doc in
#    /root/reference/tests/test_anpp_pipeline.py:79-96 and the fields consumed
#    at /root/reference/src/jurimetria_pipeline.py:163-179. ──────────────────
SOURCE_SCHEMA = T.StructType(
    [
        T.StructField("numeroProcesso", T.StringType()),
        T.StructField(
            "classe",
            T.StructType(
                [
                    T.StructField("codigo", T.IntegerType()),
                    T.StructField("nome", T.StringType()),
                ]
            ),
        ),
        T.StructField("dataAjuizamento", T.StringType()),  # ISO-8601 UTC
        T.StructField("dataHoraUltimaAtualizacao", T.StringType()),
        T.StructField("formato", T.StructType([T.StructField("nome", T.StringType())])),
        T.StructField(
            "orgaoJulgador",
            T.StructType(
                [
                    T.StructField("codigo", T.StringType()),
                    T.StructField("nome", T.StringType()),
                    T.StructField("codigoMunicipioIBGE", T.StringType()),
                ]
            ),
        ),
        T.StructField("grau", T.StringType()),
        T.StructField(
            "assuntos",
            T.ArrayType(T.StructType([T.StructField("nome", T.StringType())])),
        ),
        T.StructField(
            "movimentos",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("codigo", T.LongType()),
                        T.StructField("nome", T.StringType()),
                        T.StructField("dataHora", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)

HIT_SCHEMA = T.StructType(
    [
        T.StructField("_source", SOURCE_SCHEMA),
        T.StructField("sort", T.ArrayType(T.LongType())),
    ]
)

# ── Flattened analytic table (13 columns, SURVEY §2.3 P1 /
#    /root/reference/src/jurimetria_pipeline.py:165-178). Timestamps stored as
#    UTC instants; SP tz applied at derivation points only. ──────────────────
MOVIMENTO_SCHEMA = T.StructType(
    [
        T.StructField("codigo", T.LongType()),
        T.StructField("nome", T.StringType()),
        T.StructField("data_hora", T.TimestampType()),
    ]
)

PROCESSO_SCHEMA = T.StructType(
    [
        T.StructField("tribunal", T.StringType()),
        T.StructField("numero_processo", T.StringType()),
        T.StructField("classe", T.StringType()),
        T.StructField("data_ajuizamento", T.TimestampType()),
        T.StructField("ultima_atualizacao", T.TimestampType()),
        T.StructField("formato", T.StringType()),
        T.StructField("codigo_orgao", T.StringType()),
        T.StructField("orgao_julgador", T.StringType()),
        T.StructField("municipio", T.StringType()),
        T.StructField("grau", T.StringType()),
        T.StructField("assuntos", T.ArrayType(T.StringType())),
        T.StructField("movimentos", T.ArrayType(MOVIMENTO_SCHEMA)),
        T.StructField("sort", T.LongType()),
    ]
)

# ── Municipality dimension (IBGE workbook, SURVEY §2.1 S5 / FIXTURES.md A3).
MUNICIPIOS_SCHEMA = T.StructType(
    [
        T.StructField("CD_UF", T.IntegerType()),
        T.StructField("NM_UF", T.StringType()),
        T.StructField("NM_UF_SIGLA", T.StringType()),
        T.StructField("CD_MUN", T.IntegerType()),
        T.StructField("NM_MUN", T.StringType()),
        T.StructField("AR_MUN_2024", T.DoubleType()),
    ]
)

# ── Driver fixture tables (/root/testdata, FIXTURES.md §B). ─────────────────
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
