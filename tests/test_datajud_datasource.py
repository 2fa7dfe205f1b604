"""DataJud as a PySpark Python Data Source: batch partitions per tribunal,
tribunal-filter pushdown pruning partitions before any request, keyset
cursor as a resumable streaming offset — all against the file-backed
offline transport (no network)."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from jurimetria_etl_spark.sources.datajud_datasource import (
    DataJudReader,
    DataJudStreamReader,
    read_datajud,
    register_datajud_source,
)


def _hit(trib, i):
    return {
        "_source": {
            "numeroProcesso": f"{trib}-{i:04d}",
            "classe": {"codigo": 12729, "nome": "ANPP"},
            "dataAjuizamento": f"2023-01-{10 + i:02d}T12:00:00Z",
            "grau": "1º Grau",
        },
        "sort": [1673352000000 + i],
    }


def _pages_file(tmp_path, pages_by_trib):
    p = tmp_path / "pages.json"
    p.write_text(json.dumps(pages_by_trib), encoding="utf-8")
    return str(p)


def _two_page_fixture(tmp_path):
    return _pages_file(
        tmp_path,
        {
            "TJCE": [
                {"hits": {"hits": [_hit("TJCE", 1), _hit("TJCE", 2)]}},
                {"hits": {"hits": [_hit("TJCE", 3)]}},
            ],
            "TJSP": [{"hits": {"hits": [_hit("TJSP", 1)]}}],
        },
    )


def test_batch_read_partitions_per_tribunal(spark, tmp_path):
    pages = _two_page_fixture(tmp_path)
    df = read_datajud(
        spark,
        ["TJCE", "TJSP"],
        transport="offline",
        pages_file=pages,
    )
    rows = sorted(r["numero_processo"] for r in df.collect())
    assert rows == ["TJCE-0001", "TJCE-0002", "TJCE-0003", "TJSP-0001"]


def test_tribunal_filter_prunes_partitions(spark, tmp_path):
    """Filter pushdown: EqualTo on tribunal drops the other tribunals'
    partitions (no request would be issued for them).  Pruning matches
    case-insensitively, so ALL filters — handled ones included — are
    returned for Spark to re-evaluate post-scan: consuming a filter whose
    value was normalized would silently change equality semantics
    (``tribunal == 'tjce'`` must not match rows with tribunal='TJCE')."""
    from pyspark.sql.datasource import EqualTo, GreaterThan

    reader = DataJudReader({"tribunais": "TJCE,TJSP,TJMG"})
    pushed = [EqualTo(("tribunal",), "TJSP"), GreaterThan(("tribunal",), "A")]
    remaining = list(reader.pushFilters(pushed))
    assert [p.tribunal for p in reader.partitions()] == ["TJSP"]
    # every filter comes back for post-scan re-evaluation
    assert remaining == pushed


def test_tribunal_filter_end_to_end(spark, tmp_path):
    pages = _two_page_fixture(tmp_path)
    register_datajud_source(spark)
    raw = (
        spark.read.format("datajud")
        .option("tribunais", "TJCE,TJSP")
        .option("transport", "offline")
        .option("pages_file", pages)
        .load()
        .where(F.col("tribunal") == "TJSP")
    )
    assert [r["tribunal"] for r in raw.collect()] == ["TJSP"]


def test_tribunal_filter_lowercase_is_exact(spark, tmp_path):
    """``tribunal == 'tjsp'`` must return NO rows (stored codes are
    upper-case): pruning may normalize, but the filter itself is
    re-evaluated by Spark with exact equality semantics."""
    pages = _two_page_fixture(tmp_path)
    register_datajud_source(spark)
    raw = (
        spark.read.format("datajud")
        .option("tribunais", "TJCE,TJSP")
        .option("transport", "offline")
        .option("pages_file", pages)
        .load()
        .where(F.col("tribunal") == "tjsp")
    )
    assert raw.collect() == []


def test_stream_reader_cursor_offsets(tmp_path):
    """Driver-side protocol check: one page per read, cursor advances, and
    resuming from a stored offset returns the NEXT page (restart safety)."""
    pages = _two_page_fixture(tmp_path)
    r = DataJudStreamReader(
        {"tribunais": "TJCE", "transport": "offline", "pages_file": pages}
    )
    start = r.initialOffset()
    assert start == {"TJCE": None}
    rows1, off1 = r.read(start)
    assert len(list(rows1)) == 2
    assert off1["TJCE"] == [1673352000002]
    rows2, off2 = r.read(off1)
    assert len(list(rows2)) == 1
    assert off2["TJCE"] == [1673352000003]
    rows3, off3 = r.read(off2)  # exhausted → empty, cursor parked
    assert list(rows3) == [] and off3 == off2


class HTTPError(Exception):
    """Stands in for ``requests.HTTPError``: the guard matches the name."""


def test_stream_reader_http_error_raises(monkeypatch):
    """A 401 or 5xx raises out of the micro-batch, as it does out of the
    batch scan, instead of reading as an empty page."""
    import jurimetria_etl_spark.sources.datajud as datajud

    def bad_auth(url, headers, payload):
        raise HTTPError("401 Unauthorized")

    monkeypatch.setattr(datajud, "_requests_transport", bad_auth)
    r = DataJudStreamReader({"tribunais": "TJCE"})
    with pytest.raises(HTTPError):
        r.read(r.initialOffset())


@pytest.mark.parametrize("failure", ["connection", 400, 404])
def test_stream_reader_skipped_page_keeps_cursor(monkeypatch, failure):
    import jurimetria_etl_spark.sources.datajud as datajud

    def transport(url, headers, payload):
        assert payload["search_after"] == [1673352000002]
        if failure == "connection":
            raise ConnectionError("down")
        return failure, {}

    monkeypatch.setattr(datajud, "_requests_transport", transport)
    r = DataJudStreamReader({"tribunais": "TJCE"})
    start = {"TJCE": [1673352000002]}
    rows, end = r.read(start)
    assert list(rows) == [] and end == start


def test_streaming_end_to_end(spark, tmp_path):
    pages = _two_page_fixture(tmp_path)
    register_datajud_source(spark)
    stream = (
        spark.readStream.format("datajud")
        .option("tribunais", "TJCE")
        .option("transport", "offline")
        .option("pages_file", pages)
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("mem_datajud_stream")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT * FROM mem_datajud_stream").count() >= 3:
                break
            time.sleep(0.5)
        got = spark.sql("SELECT * FROM mem_datajud_stream").collect()
    finally:
        q.stop()
    ids = sorted(json.loads(r["hit_json"])["_source"]["numeroProcesso"] for r in got)
    assert ids == ["TJCE-0001", "TJCE-0002", "TJCE-0003"]
