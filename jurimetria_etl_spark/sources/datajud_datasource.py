"""DataJud as a first-class PySpark (4.x) Python Data Source.

``spark.read.format("datajud")`` is the idiomatic Spark form of the
reference's ingest loop (``/root/reference/src/jurimetria_pipeline.py:96-160``):

- **one InputPartition per tribunal** — N tribunals page concurrently on N
  executor cores (the reference loops sequentially on one thread);
- **partition pruning via pushFilters** — ``.where(col("tribunal") ==
  'TJCE')`` removes the other tribunals' partitions BEFORE any HTTP
  request is issued (the Python-source analogue of DSv2 pushdown);
- **keyset-pagination protocol** — not copied here: the batch reader
  calls ``fetch_raw_hits`` with all of the reference's stop guards (S2),
  the stream reader calls ``fetch_page`` and its per-page guards, so an
  HTTP error status raises on both paths;
- **streaming** — ``spark.readStream.format("datajud")`` maps the
  ``search_after`` cursor to a resumable micro-batch source: the offset is
  the per-tribunal cursor, one page per tribunal per micro-batch
  (SURVEY §2.10's "natural resumable micro-batch source", realized).

Rows are ``(tribunal, hit_json)`` — raw documents cross the boundary as
JSON strings and the explicit ``HIT_SCHEMA`` is applied by ``parse_hits``
(no inference pass, SURVEY §1.3).  Use ``read_datajud`` for the parsed +
flattened form.

Transports: the default is the live ``requests`` POST; ``transport=offline``
serves canned pages from a JSON file (``pages_file`` option) — executors
re-read the file, so tests and replay runs never touch the network.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from jurimetria_etl_spark.schemas import HIT_SCHEMA
from jurimetria_etl_spark.sources.datajud import (
    MAX_REQUESTS,
    PAGE_SIZE,
    Transport,
    fetch_page,
    fetch_raw_hits,
)

RAW_SCHEMA = "tribunal string, hit_json string"


def offline_transport(pages_file: str) -> Transport:
    """Transport serving canned pages from a JSON file shaped
    ``{tribunal: [page_body, ...]}``.

    STATELESS: the page is resolved from the request's ``search_after``
    cursor (no cursor → page 0; cursor matching page i's last hit → page
    i+1), exactly like the real ES endpoint — so it behaves identically
    whether the protocol loop runs in one executor process (batch) or one
    page per driver call (streaming restarts included)."""
    with open(pages_file, encoding="utf-8") as f:
        pages: dict[str, list[dict[str, Any]]] = json.load(f)

    def transport(
        url: str, headers: dict[str, str], payload: dict[str, Any]
    ) -> tuple[int, dict[str, Any]]:
        trib = url.split("api_publica_")[1].split("/")[0].upper()
        trib_pages = pages.get(trib, [])
        sa = payload.get("search_after")
        if sa is None:
            idx = 0
        else:
            idx = None
            for i, pg in enumerate(trib_pages):
                hits = pg.get("hits", {}).get("hits", [])
                if hits and hits[-1].get("sort") == sa:
                    idx = i + 1
                    break
            if idx is None:
                return 200, {"hits": {"hits": []}}
        if idx >= len(trib_pages):
            return 200, {"hits": {"hits": []}}
        return 200, trib_pages[idx]

    return transport


def _make_transport(options: dict[str, str]) -> Transport | None:
    if options.get("transport") == "offline":
        return offline_transport(options["pages_file"])
    return None  # default requests transport inside fetch_page


def _tribunais(options: dict[str, str]) -> list[str]:
    return [t.strip().upper() for t in options.get("tribunais", "TJCE").split(",") if t.strip()]


class _TribunalPartition(InputPartition):
    def __init__(self, tribunal: str):
        self.tribunal = tribunal


class DataJudReader(DataSourceReader):
    def __init__(self, options: dict[str, str]):
        self.options = dict(options)
        self.tribunais = _tribunais(self.options)

    def pushFilters(self, filters):  # noqa: N802 (API name)
        """Prune tribunal partitions from pushed equality/IN filters.

        Partition pruning matches case-insensitively (tribunal codes are
        normalized to upper-case at scan time), so EVERY filter — including
        the handled ones — is returned for Spark to re-evaluate post-scan:
        pruning with a normalized value but consuming the filter would make
        ``.where(col('tribunal') == 'tjce')`` wrongly return rows with
        tribunal='TJCE'.  Re-evaluation on the pruned scan is always
        semantics-preserving and costs one comparison per surviving row.
        """
        from pyspark.sql.datasource import EqualTo, In

        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("tribunal",):
                self.tribunais = [
                    t for t in self.tribunais if t == str(f.value).upper()
                ]
            elif isinstance(f, In) and f.attribute == ("tribunal",):
                wanted = {str(v).upper() for v in f.values}
                self.tribunais = [t for t in self.tribunais if t in wanted]
        return iter(filters)

    def partitions(self) -> list[InputPartition]:
        return [_TribunalPartition(t) for t in self.tribunais]

    def read(self, partition: _TribunalPartition) -> Iterator[tuple]:
        o = self.options
        for hit in fetch_raw_hits(
            partition.tribunal,
            int(o["classe_codigo"]) if o.get("classe_codigo") else None,
            o.get("classe_nome"),
            int(o.get("page_size", PAGE_SIZE)),
            int(o.get("max_requests", MAX_REQUESTS)),
            _make_transport(o),
            o.get("api_key"),
        ):
            yield (partition.tribunal, json.dumps(hit))


class DataJudStreamReader(SimpleDataSourceStreamReader):
    """Keyset cursor → streaming offset: ``{tribunal: last_sort_cursor}``.

    Each micro-batch fetches at most one page per tribunal, resuming from
    the recorded ``search_after`` cursor — restart-safe because the offset
    log stores the cursor, exactly the property keyset pagination has that
    offset pagination lacks.
    """

    def __init__(self, options: dict[str, str]):
        self.options = dict(options)
        self.tribunais = _tribunais(self.options)

    def initialOffset(self) -> dict:  # noqa: N802
        return {t: None for t in self.tribunais}

    def _page(self, tribunal: str, cursor) -> tuple[list[dict[str, Any]], Any]:
        """One page after ``cursor`` and the cursor to resume from.  An
        empty page or a repeated cursor returns no rows and keeps the
        cursor where it is, so the next micro-batch asks again."""
        o = self.options
        hits = fetch_page(
            tribunal,
            cursor,
            int(o["classe_codigo"]) if o.get("classe_codigo") else None,
            o.get("classe_nome"),
            int(o.get("page_size", PAGE_SIZE)),
            _make_transport(o),
            o.get("api_key"),
        )
        new_cursor = hits[-1].get("sort") if hits else cursor
        if new_cursor == cursor:
            return [], cursor
        return hits, new_cursor

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:  # noqa: N802
        rows: list[tuple] = []
        end = dict(start)
        for trib in self.tribunais:
            hits, cursor = self._page(trib, start.get(trib))
            rows.extend((trib, json.dumps(h)) for h in hits)
            end[trib] = cursor
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:  # noqa: N802
        # Replay: re-fetch the page(s) between the recorded cursors.  With
        # the offline transport this is deterministic; live ES replay is
        # best-effort (the API is append-mostly on dataAjuizamento desc).
        rows, _ = self.read(start)
        return rows

    def commit(self, end: dict) -> None:  # noqa: N802
        pass


class DataJudDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "datajud"

    def schema(self) -> str:
        return RAW_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return DataJudReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:  # noqa: N802
        return DataJudStreamReader(self.options)


def register_datajud_source(spark: SparkSession) -> None:
    try:  # runtime-settable in local mode; session.py also sets it at build
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
    spark.dataSource.register(DataJudDataSource)


def parse_hits(raw: DataFrame) -> DataFrame:
    """(tribunal, hit_json) → (tribunal, hit struct) with the explicit
    HIT_SCHEMA — schema-on-read, no inference pass."""
    return raw.select(
        "tribunal", F.from_json("hit_json", HIT_SCHEMA).alias("hit")
    )


def read_datajud(
    spark: SparkSession,
    tribunais: list[str],
    classe_codigo: int | None = None,
    classe_nome: str | None = None,
    **options: str,
) -> DataFrame:
    """Batch read through the data source, parsed and flattened to the
    13-column analytic schema (P1)."""
    from jurimetria_etl_spark.operators.flatten import flatten_hits

    register_datajud_source(spark)
    reader = (
        spark.read.format("datajud")
        .option("tribunais", ",".join(tribunais))
    )
    if classe_codigo is not None:
        reader = reader.option("classe_codigo", str(classe_codigo))
    if classe_nome is not None:
        reader = reader.option("classe_nome", classe_nome)
    for k, v in options.items():
        reader = reader.option(k, v)
    raw = parse_hits(reader.load())
    return flatten_hits(raw.select("tribunal", "hit.*"), F.col("tribunal"))
