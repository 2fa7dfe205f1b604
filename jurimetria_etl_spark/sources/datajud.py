"""DataJud (CNJ public Elasticsearch API) source adapter — SURVEY §2.1 S1–S4.

Reimplements the reference's keyset-pagination protocol
(``/root/reference/src/jurimetria_pipeline.py:96-160``) with an injectable
transport so tests never touch the network.  This module holds the only
copy of that protocol: ``fetch_page`` is one request with the per-page
guards, ``fetch_raw_hits`` the loop over it with the cursor guards.  The
batch scan (``DataJudSource.parallel_scan``) and both readers of the
``datajud`` data source call them.

Stop guards kept verbatim from the reference's semantics:
- HTTP 400/404 → empty page, no error     (``:138-140``)  ``fetch_page``
- transport error → empty page            (``:133-136``)  ``fetch_page``
- HTTP error status → raised              (``:127-136``)  ``fetch_page``
- empty page → stop                       (``:145-147``)  ``fetch_raw_hits``
- repeated cursor → stop                  (``:150-154``)  ``fetch_raw_hits``
- >= max_requests pages → stop            (``:116-120``)  ``fetch_raw_hits``

The class filter (S3) is pushed server-side as an ES ``term`` query — name
takes precedence over code, else match_all (``:86-93``); the sort spec (S4)
is ``dataAjuizamento desc`` (``:110-112``).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from jurimetria_etl_spark.schemas import HIT_SCHEMA

PAGE_SIZE = 1_000
MAX_REQUESTS = 1_000
DEFAULT_TRIBUNAIS = ["TJCE"]

# transport(url, headers, payload) -> (status_code, parsed_json_body)
Transport = Callable[[str, dict[str, str], dict[str, Any]], tuple[int, dict[str, Any]]]


def build_base_url(sigla: str) -> str:
    """S1 URL builder (reference ``:44-46``)."""
    return f"https://api-publica.datajud.cnj.jus.br/api_publica_{sigla.lower()}/_search"


def build_query(
    classe_codigo: int | None = None, classe_nome: str | None = None
) -> dict[str, Any]:
    """S3 server-side predicate: term on name > term on code > match_all
    (reference ``:86-93``)."""
    if classe_nome:
        return {"term": {"classe.nome": classe_nome}}
    if classe_codigo:
        return {"term": {"classe.codigo": classe_codigo}}
    return {"match_all": {}}


def get_headers(api_key: str | None = None) -> dict[str, str]:
    """Auth headers.  The key comes from ``CNJ_API_KEY`` (the reference
    hardcodes one at ``:35-41``; we do not reproduce secrets)."""
    key = api_key or os.environ.get("CNJ_API_KEY", "")
    if key and not key.lower().startswith("apikey"):
        key = f"APIKey {key}"
    return {"Authorization": key, "Content-Type": "application/json"}


def _requests_transport(
    url: str, headers: dict[str, str], payload: dict[str, Any]
) -> tuple[int, dict[str, Any]]:
    import requests  # imported lazily; absent in the test container

    resp = requests.post(url, headers=headers, json=payload, timeout=60)
    if resp.status_code in (400, 404):
        return resp.status_code, {}
    resp.raise_for_status()
    return resp.status_code, resp.json()


def fetch_page(
    tribunal: str,
    search_after: list[Any] | None = None,
    classe_codigo: int | None = None,
    classe_nome: str | None = None,
    page_size: int = PAGE_SIZE,
    transport: Transport | None = None,
    api_key: str | None = None,
) -> list[dict[str, Any]]:
    """One POST of the keyset protocol with every per-page guard: the
    page's hits after ``search_after``; ``[]`` on a transport error or a
    400/404; an HTTP error status raises."""
    payload: dict[str, Any] = {
        "size": page_size,
        "query": build_query(classe_codigo, classe_nome),
        "sort": [{"dataAjuizamento": {"order": "desc"}}],
    }
    if search_after is not None:
        payload["search_after"] = search_after
    try:
        status, body = (transport or _requests_transport)(
            build_base_url(tribunal), get_headers(api_key), payload
        )
    except Exception as e:
        # Reference :127-136 guards only the request ATTEMPT
        # (connection refused / DNS / timeout → empty); an HTTP
        # error STATUS — 5xx, 401, 403, raised by raise_for_status
        # AFTER the 400/404 skip — propagates loudly there, and must
        # here too: a bad API key or a mid-pagination 500 silently
        # masquerading as an empty tribunal is data loss.
        if type(e).__name__ == "HTTPError":
            raise
        return []  # transport error → empty (reference :133-136)
    if status in (400, 404):
        return []  # skip tribunal (reference :138-140)
    return body.get("hits", {}).get("hits", [])


def fetch_raw_hits(
    tribunal: str,
    classe_codigo: int | None = None,
    classe_nome: str | None = None,
    page_size: int = PAGE_SIZE,
    max_requests: int = MAX_REQUESTS,
    transport: Transport | None = None,
    api_key: str | None = None,
) -> Iterator[dict[str, Any]]:
    """S1+S2 — generator of raw hit dicts for one tribunal: ``fetch_page``
    in a loop with the reference's cursor stop guards."""
    search_after: list[Any] | None = None
    seen_cursors: set[tuple] = set()
    for _ in range(max_requests):
        hits = fetch_page(
            tribunal, search_after, classe_codigo, classe_nome, page_size, transport, api_key
        )
        if not hits:
            return
        yield from hits
        cursor = hits[-1].get("sort")
        key = tuple(cursor) if isinstance(cursor, list) else cursor
        if cursor == search_after or key in seen_cursors:
            return  # repeated cursor → stop (reference :150-154)
        seen_cursors.add(key)
        search_after = cursor


class DataJudSource:
    """Scan builder: tribunals → one DataFrame of ``(tribunal, hit)`` rows.

    ``parallel_scan`` is the one batch scan: it distributes one tribunal
    per task via ``parallelize(...).flatMap`` so N tribunals page
    concurrently on N executor cores — the distributed analogue of the
    reference's sequential driver loop (``:217-232``).  Each hit is carried
    as a JSON string across the Python↔JVM boundary and parsed with the
    explicit HIT_SCHEMA (no inference pass — SURVEY §1.3).  The transport
    is pickled out to the executors with the fetch closure.
    """

    def __init__(
        self,
        spark: SparkSession,
        transport: Transport | None = None,
        page_size: int = PAGE_SIZE,
        max_requests: int = MAX_REQUESTS,
        api_key: str | None = None,
    ):
        self.spark = spark
        self.transport = transport
        self.page_size = page_size
        self.max_requests = max_requests
        self.api_key = api_key

    def parallel_scan(
        self,
        tribunais: list[str],
        classe_codigo: int | None = None,
        classe_nome: str | None = None,
    ) -> DataFrame:
        """All tribunals in one DataFrame with a ``tribunal`` column, one
        partition per tribunal (executor-side fetch)."""
        page_size, max_requests = self.page_size, self.max_requests
        transport, api_key = self.transport, self.api_key

        def fetch(trib: str) -> Iterator[str]:
            for h in fetch_raw_hits(
                trib, classe_codigo, classe_nome, page_size, max_requests, transport, api_key
            ):
                yield json.dumps({"tribunal": trib, "hit": h})

        rdd = self.spark.sparkContext.parallelize(
            tribunais, max(1, len(tribunais))
        ).flatMap(fetch)
        from pyspark.sql import types as T

        wrapped = T.StructType(
            [T.StructField("tribunal", T.StringType()), T.StructField("hit", HIT_SCHEMA)]
        )
        return self.spark.read.schema(wrapped).json(rdd)
