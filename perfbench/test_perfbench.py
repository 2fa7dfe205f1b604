"""Self-tests for the benchmark's helpers (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
from pathlib import Path

from jurimetria_etl_spark.sources.datajud import fetch_raw_hits
from perfbench.pager import TRIBUNAIS, Pager, write_pages
from perfbench.tracing import covered, self_time

PAGES, SIZE = 3, 50


def _files(d: Path) -> dict[str, bytes]:
    return {str(p.relative_to(d)): p.read_bytes() for p in sorted(d.rglob("*.json"))}


def test_pager_is_byte_identical_per_seed_and_differs_across_seeds(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    assert write_pages(str(a), 7, PAGES, SIZE) == write_pages(str(b), 7, PAGES, SIZE)
    write_pages(str(c), 8, PAGES, SIZE)
    fa, fb, fc = _files(a), _files(b), _files(c)
    assert len(fa) == len(TRIBUNAIS) * PAGES
    assert fa == fb
    assert fa.keys() == fc.keys()
    assert all(fa[k] != fc[k] for k in fa)


class _Count:
    def __init__(self):
        self.value = 0

    def add(self, n):
        self.value += n


def test_pager_stops_through_fetch_guards_with_pages_times_size_hits(tmp_path):
    expected = write_pages(str(tmp_path), 3, PAGES, SIZE)
    for trib in TRIBUNAIS:
        calls = _Count()
        hits = list(
            fetch_raw_hits(trib, page_size=SIZE, transport=Pager(str(tmp_path), SIZE, calls))
        )
        assert len(hits) == PAGES * SIZE
        # every page once, then the empty page that ends pagination
        assert calls.value == PAGES + 1
        assert len({h["_source"]["numeroProcesso"] for h in hits}) == PAGES * SIZE
    assert 0 < sum(expected["hours"]) < expected["rows"] <= len(TRIBUNAIS) * PAGES * SIZE


def test_self_time_counts_overlapping_children_once():
    assert covered([(0.0, 1.0), (0.5, 2.0)]) == 2.0
    assert covered([(0.0, 3.0), (1.0, 2.0)]) == 3.0
    span = {"start": 0.0, "end": 10.0}
    children = [
        {"start": 1.0, "end": 4.0},
        {"start": 3.0, "end": 6.0},  # overlaps the first: [1, 6] covered once
        {"start": 8.0, "end": 12.0},  # runs past the parent: clipped to [8, 10]
    ]
    assert self_time(span, children) == 3.0
    assert self_time(span, []) == 10.0


def test_benchmark_json_names_what_the_runner_prints():
    from perfbench.run import END_TO_END, PER_LAYER
    from perfbench.workloads import WORKLOADS

    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
