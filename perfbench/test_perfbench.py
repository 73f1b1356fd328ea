"""Benchmark-owned tests: seeded generators are deterministic, the
output checks catch a single perturbed row, and BENCHMARK.json names
exactly the metrics the runs print. No Spark session is started.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen_corpus  # noqa: E402
import gen_registry  # noqa: E402
from metrics import E2E_UNITS, LAYER_UNITS  # noqa: E402


def _digest(directory: str) -> dict[str, str]:
    return {
        n: hashlib.sha256(open(os.path.join(directory, n), "rb").read()).hexdigest()
        for n in sorted(os.listdir(directory))
    }


def test_registry_tables_are_seeded(tmp_path):
    a = _digest(gen_registry.write(str(tmp_path / "a"), 0.001, 5))
    b = _digest(gen_registry.write(str(tmp_path / "b"), 0.001, 5))
    c = _digest(gen_registry.write(str(tmp_path / "c"), 0.001, 6))
    assert a == b
    assert a != c
    assert set(a) == {f"{t}.parquet" for t in gen_registry.TABLES}


def test_corpus_is_seeded_and_truth_is_consistent():
    a = gen_corpus.generate(600, 3)
    b = gen_corpus.generate(600, 3)
    assert a.pubs == b.pubs and a.edges == b.edges and a.authors == b.authors
    assert gen_corpus.generate(600, 4).pubs != a.pubs
    # every dedup loser points at a survivor, orphans have no edges
    assert all(w in a.survivors for w in a.losers.values())
    assert not {p for p, _a in a.edges} & a.orphans
    assert a.survivors.isdisjoint(a.losers) and a.survivors.isdisjoint(a.orphans)
    # loser edges moved to their survivor
    for loser, win in a.losers.items():
        for p, author in a.edges:
            if p == loser:
                assert win in a.author_pubs[author]


def test_a_perturbed_lookup_or_id_set_trips_the_check():
    c = gen_corpus.generate(600, 3)
    author = max(c.author_pubs, key=lambda a: len(c.author_pubs[a]))
    dois = list(c.doi_counter(author).elements())
    assert c.check_lookup(author, dois) is None
    assert c.check_lookup(author, dois[1:]) is not None
    assert c.check_lookup(author, dois[:-1] + ["10.1/other"]) is not None
    assert c.check_ids(set(c.survivors)) == []
    assert c.check_ids(set(c.survivors) - {min(c.survivors)})
    assert c.check_ids(set(c.survivors) | {next(iter(c.losers))})


def test_a_perturbed_registry_row_trips_the_check():
    from wl_registry import compare_rows

    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.25), (3, None)]
    assert compare_rows(cols, rows, ["v", "k"], [(1.25, 2), (None, 3), (0.5, 1)]) is None
    assert compare_rows(cols, rows, cols, [(1, 0.5), (2, 1.26), (3, None)])
    assert compare_rows(cols, rows, cols, rows[:2])


def test_benchmark_json_names_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == {"registry", "weekly_pipeline"}


def test_lookup_schedule_is_seeded():
    c = gen_corpus.generate(600, 3)
    a = gen_corpus.lookup_schedule(c, 20, 3, 5)
    assert a == gen_corpus.lookup_schedule(c, 20, 3, 5)
    assert a != gen_corpus.lookup_schedule(c, 20, 4, 5)
    assert all(author in c.author_pubs for author in a)
