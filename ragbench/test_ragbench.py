"""Self-tests for the benchmark's pure helpers and its generator.

    python3 -m pytest ragbench -q
"""

from __future__ import annotations

import json
import math
import os

import pytest

from ragbench import fhirgen
from ragbench.measure import (
    Span, Tally, answer_ok, self_times, tail_percentile, union_length,
    valid_metric_name,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("n, p", [
    (0, None), (10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        assert n - math.ceil(n * p / 100) >= 10


def test_self_time_subtracts_children_once():
    spans = [
        Span("ask", 0.0, 10.0),
        Span("graph", 1.0, 4.0, parent=0),
        Span("vector", 3.0, 6.0, parent=0),  # overlaps graph: counted once
        Span("sql", 1.5, 2.5, parent=1),
        Span("outside", 20.0, 21.0),
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 1.0, 1.0])


def test_self_time_clips_children_to_parent():
    spans = [Span("a", 0.0, 2.0), Span("b", 1.0, 5.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(1.0)


def test_union_length():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert union_length([]) == 0.0


@pytest.mark.parametrize("name, ok", [
    ("setup_s", True), ("llm.rag.graph_branch.jobs", True), ("p50-s", True),
    ("9lives", True), ("_x", False), (".x", False), ("a b", False),
    ("a/b", False), ("é", False), ("x" * 64, True), ("x" * 65, False), ("", False),
])
def test_metric_name_validation(name, ok):
    assert valid_metric_name(name) is ok


def test_declared_metric_names_are_valid():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert all(valid_metric_name(n) for n in names)
    assert len(names) == len(set(names))
    from ragbench.run import END_TO_END, PER_LAYER
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER


def test_wrong_answer_counts_as_failed_not_skipped():
    t = Tally()
    t.record(answer_ok("Ted Reilly, 28", ("Ted Reilly", "28")))
    t.record(answer_ok("Ted Reilly, 27", ("Ted Reilly", "28")), "wrong count")
    t.record(answer_ok("", ("yes",)), "empty answer")
    assert (t.attempted, t.failed) == (3, 2)
    assert t.reasons == ["wrong count", "empty answer"]


def test_answer_values_are_matched_whole():
    # "0" must not match inside "10"; number words are accepted
    assert not answer_ok("10", ("0",))
    assert answer_ok("one", ("1",))
    assert answer_ok("food; other; medication", ("other", "food"))


def test_wrong_digest_counts_as_failed():
    from ragbench.workloads import _measure

    t = Tally()
    digests = iter([41, 42])
    _measure([lambda: (lambda d=next(digests): (d == 42, f"digest {d}"))] * 2, 0, t)
    assert (t.attempted, t.failed, t.reasons) == (2, 1, ["digest 41"])


def test_raising_op_counts_as_failed():
    from ragbench.workloads import _measure

    def boom():
        raise RuntimeError("lost executor")

    t = Tally()
    lat, _, _ = _measure([boom], 0, t)
    assert (t.attempted, t.failed, len(lat)) == (1, 1, 1)
    assert "lost executor" in t.reasons[0]


def test_timestamp_parse_matches_engine_pattern():
    assert fhirgen._utc("2022-10-03") is None  # date only: no parse
    assert str(fhirgen._utc("2022-01-01T01:30:00+02:00")) == "2021-12-31 23:30:00"
    assert str(fhirgen._utc("2022-01-01T00:00:01")) == "2022-01-01 00:00:01"


def test_generator_is_seeded():
    a = fhirgen.generate(60, 7)
    assert a == fhirgen.generate(60, 7)
    assert a != fhirgen.generate(60, 8)


def test_mock_extractor_recovers_every_record():
    from odsc_agentic_ai_summit_2025_spark.llm.client import MockLLMClient

    c = MockLLMClient()
    notes, records = fhirgen.generate(300, 3)
    for (rid, note), rec in zip(notes, records):
        got = {"record_id": rid, **c.extract_patient(note),
               "immunization": c.extract_immunizations(note),
               "practitioner": c.extract_practitioner(note)}
        assert got == rec, note


def test_golden_entities_are_planted():
    _, records = fhirgen.generate(400, 5)
    exp = dict(fhirgen.Graph(records).golden())
    q = fhirgen.GOLDEN_QUESTIONS
    assert set(exp[q[1]]) == {"Lili Abbie Brekke", "Marinda Lindsay Veum",
                              "Gary Everette Abshire", "Gabrielle Claudie Medhurst"}
    assert exp[q[2]] == ("yes",)
    assert exp[q[3]] == ("environment", "food", "medication", "other")
    assert exp[q[7]][::2] == ("East Longmeadow", "Cletus Paucek")
    assert int(exp[q[4]][0]) > 0 and int(exp[q[9]][0]) > 0
    counts = fhirgen.Graph(records).counts()
    assert counts["patient"] == 400 and counts["treats"] > 0
