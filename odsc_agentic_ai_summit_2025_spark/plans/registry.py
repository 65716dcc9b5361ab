"""Declared query inventory registry.

Every operator claimed in SURVEY.md §2 gets a named entry here: a
Spark callable ``(spark, sf_dir) -> DataFrame`` plus (where the
semantics are SQL-expressible) an equivalent ANSI-SQL oracle string
for DuckDB. The driver hash-compares the two at sf=0.01.

Determinism conventions (both sides must follow them):

- Alias every computed column identically in Spark and SQL.
- Money aggregates: ``SUM(CAST(x AS DECIMAL(18,2)))`` — exact decimal
  arithmetic, identical in any engine and any partition order — cast
  to DOUBLE only at output (magnitudes here fit a double exactly).
- Ratios/averages: IEEE division of two exactly-determined operands,
  then ``ROUND(., 2)`` — identical doubles in, identical double out.
- Top-k: always break ties with a unique key so LIMIT is a function.
- Never output raw float accumulations (partition-order dependent).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    """One declared-inventory entry."""

    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    covers: tuple[str, ...] = field(default_factory=tuple)  # SURVEY §2 ids
    description: str = ""


# Queries whose execution changed since the latest committed
# CORRECTNESS_r<N>.json; they follow the must-go tier into the window.
_CHANGED = (
    "q63_neardup_lsh",
    "q66_dedup_clusters",
    "q68_extract_usage",
    "q78_simhash_pairs",
    "q82_semantic_dedup",
    "q89_editdist_pairs",
    "q90_triangle_counts",
    "q91_pagerank",
    "q99_quality_reps",
    "q100_curation_pipeline",
    "q113_hll_stream_replay",
    "q114_dsir_stream_scoring",
)

_REPO_ROOT = Path(__file__).resolve().parents[2]
_HISTORY_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")


def all_queries(history_dir: str | Path = _REPO_ROOT) -> dict[str, Query]:
    """Assemble the full inventory, ordered for the driver's gate window.

    The driver checks the first 50 entries. The order comes from the
    committed ``CORRECTNESS_r<N>.json`` files in ``history_dir``: tier 0
    is every query with no green row or a last green row at least 3
    rounds old, tier 1 is ``_CHANGED``, tier 2 the rest; within a tier
    the oldest last green row goes first, then registry order.
    """
    from . import (
        corpus,
        curation,
        dedup,
        extended,
        extended2,
        observability,
        relational,
        retrieval,
        textops,
    )

    mods = (
        extended,
        extended2,
        observability,
        curation,
        textops,
        corpus,
        dedup,
        retrieval,
        relational,
    )
    out: dict[str, Query] = {}
    for mod in mods:
        for q in mod.QUERIES:
            if q.name in out:
                raise ValueError(f"duplicate query name: {q.name}")
            out[q.name] = q
    unknown = sorted(set(_CHANGED) - set(out))
    if unknown:
        raise ValueError(f"_CHANGED names unknown queries: {unknown}")
    last, next_round = _last_green(Path(history_dir))

    def key(name: str) -> tuple[int, int]:
        seen = last.get(name, 0)
        if not seen or next_round - seen >= 3:
            tier = 0
        elif name in _CHANGED:
            tier = 1
        else:
            tier = 2
        return tier, seen

    # sorted() is stable, so ties keep registry order.
    return {name: out[name] for name in sorted(out, key=key)}


def _last_green(history_dir: Path) -> tuple[dict[str, int], int]:
    """Last round each query was fully green, and the next round number."""
    last: dict[str, int] = {}
    latest = 0
    for path in history_dir.iterdir():
        m = _HISTORY_FILE.fullmatch(path.name)
        if m is None:
            continue
        n = int(m.group(1))
        latest = max(latest, n)
        try:
            rows = json.loads(path.read_text())
            green = [
                name for name, r in rows.items()
                if r["hash_match"] and r["rows_match"] and r["schema_match"]
                and r["err"] is None
            ]
        except (ValueError, AttributeError, KeyError, TypeError) as e:
            raise ValueError(
                f"unparsable correctness history {path}: {e!r}"
            ) from e
        for name in green:
            last[name] = max(last.get(name, 0), n)
    return last, latest + 1
