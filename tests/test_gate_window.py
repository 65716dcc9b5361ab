"""The driver gate window is computed from the correctness history.

``all_queries()`` orders the inventory from the committed
``CORRECTNESS_r<N>.json`` files; the driver checks the first 50. No
Spark session is needed: the registry only imports plan modules.
"""

from __future__ import annotations

import json
import shutil

import pytest

from odsc_agentic_ai_summit_2025_spark.plans import (
    corpus,
    curation,
    dedup,
    extended,
    extended2,
    observability,
    registry,
    relational,
    retrieval,
    textops,
)
from odsc_agentic_ai_summit_2025_spark.plans.registry import all_queries

WINDOW = 50
GREEN = {"rows_match": True, "schema_match": True, "hash_match": True,
         "err": None}


def _tier0(history_dir) -> set[str]:
    last, next_round = registry._last_green(history_dir)
    return {
        name for name in all_queries(history_dir)
        if name not in last or next_round - last[name] >= 3
    }


def test_committed_history_window():
    head = list(all_queries())[:WINDOW]
    assert set(head[:10]) == {
        "q19_window_running", "q22_pivot", "q23_rollup",
        "q30_token_stats", "q31_quality_score", "q33_fingerprint",
        "q69_train_split", "q70_quality_filter", "q72_repetition_stats",
        "q88_normalize_text",
    }
    assert set(registry._CHANGED) <= set(head)
    assert len(_tier0(registry._REPO_ROOT)) <= WINDOW
    # The remaining slots go to the oldest rows first: all r13-green.
    last, _ = registry._last_green(registry._REPO_ROOT)
    fillers = [n for n in head[10:] if n not in registry._CHANGED]
    assert {last[n] for n in fillers} == {13}, fillers


@pytest.mark.parametrize("changed", [registry._CHANGED, ()],
                         ids=["changed", "no_changed"])
def test_forward_rotation_keeps_every_query_fresh(tmp_path, monkeypatch,
                                                  changed):
    monkeypatch.setattr(registry, "_CHANGED", changed)
    for path in registry._REPO_ROOT.glob("CORRECTNESS_r*.json"):
        shutil.copy(path, tmp_path)
    for _ in range(8):
        _, next_round = registry._last_green(tmp_path)
        head = list(all_queries(tmp_path))[:WINDOW]
        (tmp_path / f"CORRECTNESS_r{next_round}.json").write_text(
            json.dumps({name: GREEN for name in head}))
        last, _ = registry._last_green(tmp_path)
        ages = {name: next_round - last.get(name, 0)
                for name in all_queries(tmp_path)}
        assert max(ages.values()) <= 2, (next_round, ages)


def test_empty_history_is_registry_order(tmp_path):
    # LOCAL_CORRECTNESS_* files are local replays, never driver history.
    (tmp_path / "LOCAL_CORRECTNESS_r01.json").write_text("not json")
    mods = (extended, extended2, observability, curation, textops, corpus,
            dedup, retrieval, relational)
    assert list(all_queries(tmp_path)) == [
        q.name for mod in mods for q in mod.QUERIES
    ]


def test_query_without_green_row_leads(tmp_path):
    names = list(all_queries(tmp_path))
    newcomer = names[-1]
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(
        {name: GREEN for name in names if name != newcomer}))
    red = dict(GREEN, hash_match=False)
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(
        {names[0]: GREEN, newcomer: red}))
    assert list(all_queries(tmp_path))[0] == newcomer


def test_unknown_changed_name_raises(tmp_path, monkeypatch):
    monkeypatch.setattr(registry, "_CHANGED", ("q999_missing",))
    with pytest.raises(ValueError, match="q999_missing"):
        all_queries(tmp_path)


def test_unparsable_history_file_raises(tmp_path):
    bad = tmp_path / "CORRECTNESS_r03.json"
    bad.write_text("{truncated")
    with pytest.raises(ValueError, match="CORRECTNESS_r03.json"):
        all_queries(tmp_path)
