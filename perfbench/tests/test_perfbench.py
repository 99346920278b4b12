"""Tests of the benchmark's own code (no Spark):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench.corpus import make_corpus  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.serve import BLOCK_ROUNDS, CLIENTS, MODE_MIX, round_modes  # noqa: E402
from perfbench.tables import make_tables  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Span,
    check_metric_names,
    percentile,
    self_times_ms,
    supported_percentile,
)


def test_corpus_is_deterministic_per_seed_and_differs_across_seeds():
    a, b, c = make_corpus(3, 50), make_corpus(3, 50), make_corpus(4, 50)
    assert a.docs == b.docs and a.exact_copies == b.exact_copies
    assert a.near_copies == b.near_copies and a.html_ids == b.html_ids
    assert a.docs != c.docs


def test_corpus_plants_what_it_records():
    c = make_corpus(5, 200)
    assert len(c.exact_copies) == 20 and len(c.near_copies) == 20
    for copy, orig in c.exact_copies.items():
        assert c.docs[copy] == c.docs[orig] and copy > orig
    for copy, orig in c.near_copies.items():
        a, b = c.docs[copy].split(" "), c.docs[orig].split(" ")
        assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) == 1
        assert copy > orig
    assert len(set(c.docs[o] for o in c.originals)) == len(c.originals)


def test_corpus_size_is_the_same_for_every_seed():
    def words(c):
        return sum(len(c.docs[o].split()) for o in c.originals)

    sizes = [words(make_corpus(seed, 150)) for seed in range(5)]
    # only the planted e-mail addresses and phone numbers differ
    assert max(sizes) - min(sizes) < 0.01 * min(sizes)


def test_every_block_of_rounds_holds_the_mode_mix():
    rounds = round_modes(7)
    for _ in range(4):
        block = [next(rounds) for _ in range(BLOCK_ROUNDS)]
        assert all(len(row) == CLIENTS for row in block)
        # int8 requests run in a round of their own
        assert all(row.count("int8") in (0, CLIENTS) for row in block)
        flat = [m for row in block for m in row]
        assert {m: flat.count(m) for m, _ in MODE_MIX} == {
            m: round(share * BLOCK_ROUNDS * CLIENTS) for m, share in MODE_MIX}


def test_tables_are_deterministic_per_seed_and_differ_across_seeds():
    a, b, c = make_tables(1, 0.0005), make_tables(1, 0.0005), make_tables(2, 0.0005)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_percentile_rule_needs_ten_samples_beyond():
    assert supported_percentile(9) is None
    assert supported_percentile(20) == 50.0
    assert supported_percentile(99) == 75.0
    assert supported_percentile(100) == 90.0
    assert supported_percentile(200) == 95.0
    assert supported_percentile(1000) == 99.0
    assert percentile([1, 2, 3, 4, 5], 50) == 3
    assert percentile(list(range(101)), 90) == 90


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "r")


def test_self_time_is_never_negative_and_children_fit_in_parent():
    spans = [
        _span(1, 0.0, 1.0),
        _span(2, 0.1, 0.6, parent=1),
        _span(3, 0.5, 0.9, parent=1),  # overlaps its sibling
        _span(4, 0.8, 1.5, parent=1),  # runs past its parent
        _span(5, 0.2, 0.3, parent=2),
    ]
    st = self_times_ms(spans)
    assert all(v >= 0.0 for v in st.values())
    assert abs(st[1] - 0.1 * 1000) < 1e-6  # children cover 0.1..1.0
    assert abs(st[2] - 0.4 * 1000) < 1e-6
    # the part of the parent its children cover is at most the parent
    assert spans[0].ms - st[1] <= spans[0].ms
    assert spans[1].ms - st[2] <= spans[1].ms


def test_metric_names_and_benchmark_json_agree():
    names = list(END_TO_END) + list(PER_LAYER)
    assert check_metric_names(names) == []
    assert check_metric_names(["a b", "x/y", ".lead"]) == ["a b", "x/y", ".lead"]
    assert len(PER_LAYER) <= 128
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
