"""Seeded synthetic DataJud ``_search`` pager for the etl_ingest workload.

``write_pages`` renders every page of every tribunal to a JSON file before
the timed passes and returns the values the pipeline's output must have.
``Pager`` is the transport ``DataJudSource`` calls: it maps the request's
``search_after`` cursor to the next page file and returns the parsed
body, so a pass pays for parsing responses, as a real HTTP client does,
but never for generating them.  Past the last page it answers with an
empty hit list, which ends pagination through ``fetch_raw_hits``'s
empty-page guard.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from zoneinfo import ZoneInfo

TRIBUNAIS = ["TJCE", "TJMG", "TJRJ", "TJSP"]
# CLI date window (SP-local calendar days, inclusive, as pipeline --de/--ate)
DE, ATE = "2019-01-01", "2024-12-31"
N_MOVIMENTOS = 8
SP = ZoneInfo("America/Sao_Paulo")
# filings span mid-2018 to mid-2025, so the window drops some at each end;
# the start covers the last São Paulo DST season (ended 2019-02-17)
_T_START = int(dt.datetime(2018, 6, 1, tzinfo=dt.timezone.utc).timestamp())
_T_END = int(dt.datetime(2025, 6, 1, tzinfo=dt.timezone.utc).timestamp())
# filing hour-of-day (SP) weights: office hours dominate, nights are rare
_HOUR_WEIGHTS = [1, 1, 1, 1, 1, 1, 2, 4, 9, 14, 16, 15, 10, 12, 15, 15, 13, 9, 5, 3, 2, 2, 1, 1]
_NULL_DATE_FRAC = 0.01  # missing dataAjuizamento: kept by the NULL-pass filter
_BAD_DATE_FRAC = 0.005  # unparseable dataAjuizamento: parses to NULL, kept too


def _iso(t: int) -> str:
    return dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _local_midnight_utc(day: str) -> int:
    return int(dt.datetime.fromisoformat(day).replace(tzinfo=SP).timestamp())


def page_hits(seed: int, trib: str, page: int, size: int) -> tuple[list[dict], list[int | None]]:
    """One page of hits for one tribunal, and each hit's filing instant
    (epoch seconds; None where the date is missing or unparseable)."""
    rng = random.Random(f"{seed}:{trib}:{page}")
    hits, instants = [], []
    for i in range(size):
        seq = page * size + i
        t = _T_START + rng.randrange(_T_END - _T_START)
        hour = rng.choices(range(24), _HOUR_WEIGHTS)[0]
        # move the instant to the drawn SP-local hour (UTC-3, or UTC-2 in DST)
        t = t - (t % 86_400) + (hour + 3) * 3600 + rng.randrange(3600)
        roll = rng.random()
        if roll < _NULL_DATE_FRAC:
            filed, instant = None, None
        elif roll < _NULL_DATE_FRAC + _BAD_DATE_FRAC:
            filed, instant = _iso(t).replace("-", "/", 1), None
        else:
            filed, instant = _iso(t), t
        movs = [
            {
                "codigo": rng.randrange(1, 1000),
                "nome": f"Movimento {rng.randrange(1, 60)}",
                "dataHora": _iso(t + rng.randrange(1, 400 * 86_400)),
            }
            for _ in range(N_MOVIMENTOS)
        ]
        hits.append(
            {
                "_source": {
                    "numeroProcesso": f"{trib}{seq:014d}",
                    "classe": {"codigo": 12729, "nome": "Ação Penal"},
                    "dataAjuizamento": filed,
                    "dataHoraUltimaAtualizacao": _iso(t + 500 * 86_400),
                    "formato": {"nome": "Eletrônico"},
                    "orgaoJulgador": {
                        "codigo": str(rng.randrange(1, 400)),
                        "nome": f"Vara {rng.randrange(1, 40)}",
                        "codigoMunicipioIBGE": str(2_300_000 + rng.randrange(1, 200)),
                    },
                    "grau": rng.choice(["G1", "G2", "JE"]),
                    "assuntos": [{"nome": f"Assunto {rng.randrange(1, 90)}"}],
                    "movimentos": movs,
                },
                # ES keyset cursor: (sort key, tiebreaker); the tiebreaker
                # is the hit's position, which tells the pager the page
                "sort": [t * 1000, seq],
            }
        )
        instants.append(instant)
    return hits, instants


def write_pages(pages_dir: str, seed: int, pages: int, size: int) -> dict:
    """Render ``pages`` pages of ``size`` hits per tribunal under
    ``pages_dir`` and return the pipeline's expected output: the row count
    after the --de/--ate window and the SP hour-of-day histogram."""
    lower, upper = _local_midnight_utc(DE), _local_midnight_utc(ATE)
    rows, hours = 0, [0] * 24
    for trib in TRIBUNAIS:
        os.makedirs(os.path.join(pages_dir, trib), exist_ok=True)
        for page in range(pages):
            hits, instants = page_hits(seed, trib, page, size)
            body = json.dumps({"hits": {"hits": hits}}, ensure_ascii=False)
            with open(os.path.join(pages_dir, trib, f"{page:05d}.json"), "w") as f:
                f.write(body)
            for t in instants:
                if t is None:
                    rows += 1
                elif lower <= t <= upper:
                    rows += 1
                    hours[dt.datetime.fromtimestamp(t, SP).hour] += 1
    return {"rows": rows, "hours": hours}


class Pager:
    """DataJud transport over pre-rendered page files.

    Picklable, so ``parallel_scan`` can ship it to Python workers.
    ``counter`` is an optional Spark accumulator that counts requests."""

    def __init__(self, pages_dir: str, size: int, counter=None):
        self.pages_dir = pages_dir
        self.size = size
        self.counter = counter

    def __call__(self, url: str, headers: dict, payload: dict) -> tuple[int, dict]:
        if self.counter is not None:
            self.counter.add(1)
        trib = url.split("api_publica_")[1].split("/")[0].upper()
        after = payload.get("search_after")
        page = 0 if after is None else after[1] // self.size + 1
        path = os.path.join(self.pages_dir, trib, f"{page:05d}.json")
        if not os.path.exists(path):
            return 200, {"hits": {"hits": []}}
        with open(path, "rb") as f:
            return 200, json.loads(f.read())
