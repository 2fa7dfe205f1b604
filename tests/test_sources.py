"""Injected-transport tests for the ingest adapters (S1/S2/S6/S7) — the
pagination stop guards from SURVEY §2.1, no network involved."""

from __future__ import annotations

from jurimetria_etl_spark.sources.datajud import fetch_raw_hits
from jurimetria_etl_spark.sources.esaj import (
    fetch_datajud_stats,
    fetch_esaj_rows,
    parse_esaj_table,
)


def _hit(i, cursor):
    return {"_source": {"numeroProcesso": f"p{i}"}, "sort": [cursor]}


def _paged_transport(pages):
    """Transport yielding canned pages keyed by search_after cursor."""
    calls = []

    def transport(url, headers, payload):
        calls.append(payload)
        key = tuple(payload.get("search_after", ()))
        return 200, {"hits": {"hits": pages.get(key, [])}}

    transport.calls = calls
    return transport


def test_pagination_follows_cursor_and_stops_on_empty():
    pages = {
        (): [_hit(1, 10), _hit(2, 20)],
        (20,): [_hit(3, 30)],
        (30,): [],
    }
    hits = list(fetch_raw_hits("TJCE", transport=_paged_transport(pages)))
    assert [h["_source"]["numeroProcesso"] for h in hits] == ["p1", "p2", "p3"]


def test_pagination_stops_on_repeated_cursor():
    pages = {(): [_hit(1, 10)], (10,): [_hit(2, 10)], (99,): [_hit(9, 99)]}
    hits = list(fetch_raw_hits("TJCE", transport=_paged_transport(pages)))
    # page 2's cursor repeats page 1's → stop after yielding page 2
    assert len(hits) == 2


def test_pagination_max_requests_guard():
    def endless(url, headers, payload):
        cur = (payload.get("search_after") or [0])[0]
        return 200, {"hits": {"hits": [_hit(cur + 1, cur + 1)]}}

    hits = list(fetch_raw_hits("TJCE", max_requests=5, transport=endless))
    assert len(hits) == 5


def test_http_400_404_skips_tribunal():
    for code in (400, 404):
        hits = list(
            fetch_raw_hits("TJXX", transport=lambda u, h, p: (code, {}))
        )
        assert hits == []


def test_transport_error_yields_empty():
    def boom(url, headers, payload):
        raise ConnectionError("down")

    assert list(fetch_raw_hits("TJCE", transport=boom)) == []


ESAJ_HTML = """
<html><body><table id="tabelaResultados">
<tr><th>Processo</th><th>Classe</th><th>Assunto</th><th>Órgão</th><th>Data</th><th>X</th></tr>
<tr><td>0001</td><td>Apelação</td><td>Penal</td><td>1ª Vara</td><td>05/03/2023</td><td>-</td></tr>
<tr><td>incomplete</td><td>row</td></tr>
<tr><td>0002</td><td>Agravo</td><td>Cível</td><td>2ª Vara</td><td>10/04/2023</td><td>-</td></tr>
</table></body></html>
"""


def test_esaj_parse_skips_header_and_malformed():
    """S6/W3/P4/F4 — header skipped, <6-cell row dropped, date reformatted."""
    rows = parse_esaj_table(ESAJ_HTML)
    assert [r["processo"] for r in rows] == ["0001", "0002"]
    assert rows[0]["data"] == "2023-03-05"
    assert rows[1]["orgao"] == "2ª Vara"


def test_esaj_pagination_stops_on_empty_and_non200():
    pages = {1: (200, ESAJ_HTML), 2: (200, "<html>no table</html>")}

    def transport(url, params):
        return pages.get(params["paginaConsulta"], (500, ""))

    assert len(fetch_esaj_rows(transport)) == 2

    def bad(url, params):
        return 500, ""

    assert fetch_esaj_rows(bad) == []


def _paged_esaj_html(page: int) -> str:
    # page-distinct content: the r8 repeated-page guard stops when a
    # server CLAMPS out-of-range pages to the last page (identical
    # consecutive bodies), so max_pages tests must vary per page
    return ESAJ_HTML.replace("0001", f"{page:04d}1").replace(
        "0002", f"{page:04d}2"
    )


def test_esaj_max_pages():
    def transport(url, params):
        return 200, _paged_esaj_html(params["paginaConsulta"])

    assert len(fetch_esaj_rows(transport, max_pages=3)) == 6


def test_esaj_repeated_page_guard_stops_clamped_pagination():
    """r8 review: with max_pages=None a server that clamps past-the-end
    pages to the last page must not loop forever."""
    def clamped(url, params):
        return 200, _paged_esaj_html(min(params["paginaConsulta"], 2))

    rows = fetch_esaj_rows(clamped)  # no max_pages: the guard must stop
    assert len(rows) == 4  # pages 1 and 2; the clamped repeat is dropped


def test_esaj_identical_cells_distinct_processos_do_not_stop():
    """r8 ADVICE: the clamp guard keys on the PROCESSO identity, not
    whole-page content — two legitimate pages whose non-key cells render
    identically must both land."""
    def transport(url, params):
        p = params["paginaConsulta"]
        if p > 2:
            return 200, "<html>no table</html>"
        # same classe/assunto/orgao/data cells on both pages; only the
        # process numbers differ (replace the longer token first — its
        # substring is a prefix of the other replacement's output)
        return 200, ESAJ_HTML.replace("0002", f"P{p}B").replace(
            "0001", f"P{p}A"
        )

    rows = fetch_esaj_rows(transport)
    assert [r["processo"] for r in rows] == ["P1A", "P1B", "P2A", "P2B"]


def test_esaj_partial_overlap_rows_not_duplicated():
    """r9 ADVICE: a page that PARTIALLY overlaps earlier pages (the
    server re-shuffled rows across page boundaries between requests)
    must contribute only its unseen rows — previously the whole page was
    appended, duplicating the already-seen processos."""
    def transport(url, params):
        p = params["paginaConsulta"]
        if p == 1:
            return 200, ESAJ_HTML  # 0001, 0002
        if p == 2:
            # 0002 slid onto page 2; 0003 is genuinely new
            return 200, ESAJ_HTML.replace("0001", "0002").replace(
                "0002", "0003", 1
            )
        return 200, "<html>no table</html>"

    rows = fetch_esaj_rows(transport)
    assert [r["processo"] for r in rows] == ["0001", "0002", "0003"]


def test_esaj_clamp_to_first_page_stops():
    """A server clamping EVERY out-of-range page back to page 1 (not the
    last page) must also terminate: the guard compares against all seen
    processos, not just the previous page."""
    def clamp_first(url, params):
        p = params["paginaConsulta"]
        return 200, _paged_esaj_html(p if p <= 2 else 1)

    rows = fetch_esaj_rows(clamp_first)
    assert len(rows) == 4  # pages 1-2 once each, then the clamp stops it


def test_esaj_cell_text_unescapes_entities_and_collapses_ws():
    """r8 review: bs4 get_text parity — entities decoded, interior
    whitespace runs collapsed."""
    from jurimetria_etl_spark.sources.esaj import _cell_text

    assert _cell_text("Execu\u00e7\u00e3o &amp; <b>Tributos</b>") == "Execu\u00e7\u00e3o & Tributos"
    assert _cell_text("foo <b>bar</b>") == "foo bar"


def test_datajud_stats_projection():
    """S7/P5 — two metrics projected from the stats response."""
    def transport(url, params):
        assert params["siglaTribunal"] == "TJCE"
        return 200, {"tempo_medio_dias": 120.5, "taxa_provimento_percent": 33.0, "x": 1}

    got = fetch_datajud_stats(transport, "Apelação", 2023)
    assert got == {
        "classe": "Apelação",
        "ano": 2023,
        "tempo_medio_dias": 120.5,
        "taxa_provimento_percent": 33.0,
    }


# ───────────────────────── legacy CLI (K5 / EP3) ───────────────────────────
def test_legacy_cli_esaj_with_compat_shim(capsys):
    """K5 — no subcommand given: the argv shim inserts 'esaj'; output is
    pretty JSON on stdout (reference :154-155, :190)."""
    import json

    from jurimetria_etl_spark.legacy_cli import main

    pages = {1: (200, ESAJ_HTML)}

    def transport(url, params):
        assert params["classe"] == "Apelação"
        assert params["dataIni"] == "2024-01-01"
        assert params["tipoNumero"] == "UNIFICADO"
        return pages.get(params["paginaConsulta"], (200, "<html></html>"))

    result = main(
        ["--classe", "Apelação"], html_transport=transport, pause=0.0
    )
    assert [r["processo"] for r in result] == ["0001", "0002"]
    out = capsys.readouterr().out
    assert json.loads(out) == result
    assert '"processo": "0001"' in out  # indent=2 pretty form


def test_legacy_cli_datajud_subcommand(capsys):
    import json

    from jurimetria_etl_spark.legacy_cli import main

    def transport(url, params):
        assert params["metrica"] == "taxa_provimento"
        return 200, {"taxa_provimento_percent": 41.5}

    result = main(
        [
            "datajud",
            "--classe",
            "Apelação",
            "--ano",
            "2023",
            "--metrica",
            "taxa_provimento",
        ],
        json_transport=transport,
    )
    assert result["taxa_provimento_percent"] == 41.5
    assert json.loads(capsys.readouterr().out)["ano"] == 2023


def test_legacy_cli_esaj_max_pages_and_dates():
    from jurimetria_etl_spark.legacy_cli import main

    def transport(url, params):
        assert params["dataIni"] == "2023-01-01"
        assert params["dataFim"] == "2023-06-30"
        return 200, _paged_esaj_html(params["paginaConsulta"])

    result = main(
        [
            "esaj",
            "--classe",
            "X",
            "--data-inicio",
            "2023-01-01",
            "--data-fim",
            "2023-06-30",
            "--max-pages",
            "2",
        ],
        html_transport=transport,
        pause=0.0,
    )
    assert len(result) == 4  # 2 rows/page × 2 pages


# ──────────────── executor-parallel scan through the pipeline ──────────────
def _paged_hit_transport():
    """Self-contained transport closure: everything it references is
    defined inside, so cloudpickle ships it by value to executors (a
    reference to this test module would not import there)."""

    def transport(url, headers, payload):
        if "search_after" in payload:
            return 200, {"hits": {"hits": []}}
        trib = url.split("api_publica_")[1].split("/")[0].upper()
        hit = {
            "_source": {
                "numeroProcesso": trib + "-0001",
                "classe": {"codigo": 12729, "nome": "ANPP"},
                "dataAjuizamento": "2023-01-10T12:00:00Z",
                "grau": "1º Grau",
            },
            "sort": [1673352000000],
        }
        return 200, {"hits": {"hits": [hit]}}

    return transport


def test_build_dataframe_parallel_scan_with_injected_transport(spark):
    """The multi-tribunal pipeline path runs the keyset pagination on
    EXECUTORS (one partition per tribunal); the injected transport is
    cloudpickled out with the fetch closure.  Verifies both the plumbing
    and that per-tribunal rows carry the right tribunal tag."""
    from jurimetria_etl_spark.pipeline import build_dataframe
    from jurimetria_etl_spark.sources.datajud import DataJudSource

    src = DataJudSource(spark, transport=_paged_hit_transport())
    df = build_dataframe(spark, ["TJCE", "TJSP"], source=src)
    assert df.rdd.getNumPartitions() == 2  # one partition per tribunal
    rows = {r["tribunal"]: r["numero_processo"] for r in df.collect()}
    assert rows == {"TJCE": "TJCE-0001", "TJSP": "TJSP-0001"}


def test_build_dataframe_driver_scan_fallback_matches(spark, tmp_path):
    """The executor-side scan gives the rows a driver-side ``fetch_raw_hits``
    run over the same transport gives through ``flatten_hits``."""
    import json

    from jurimetria_etl_spark.operators.flatten import flatten_hits
    from jurimetria_etl_spark.pipeline import build_dataframe
    from jurimetria_etl_spark.sources.datajud import DataJudSource
    from jurimetria_etl_spark.sources.landing import read_hits_jsonl

    transport = _paged_hit_transport()
    tribs = ["TJCE", "TJSP"]
    got = build_dataframe(spark, tribs, source=DataJudSource(spark, transport=transport))
    want = []
    for trib in tribs:
        path = tmp_path / f"{trib}.json"
        path.write_text(
            "\n".join(json.dumps(h) for h in fetch_raw_hits(trib, transport=transport))
        )
        want += flatten_hits(read_hits_jsonl(spark, str(path)), trib).collect()
    key = lambda r: (r["tribunal"], r["numero_processo"])  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(want, key=key)
    assert len(want) == 2


def test_build_dataframe_empty_tribunais_keeps_schema(spark):
    from jurimetria_etl_spark.pipeline import build_dataframe
    from jurimetria_etl_spark.sources.datajud import DataJudSource

    src = DataJudSource(spark, transport=_paged_hit_transport())
    empty = build_dataframe(spark, [], source=src)
    assert empty.count() == 0
    assert empty.schema == build_dataframe(spark, ["TJCE"], source=src).schema
