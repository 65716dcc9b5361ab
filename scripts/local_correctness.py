"""Produce LOCAL_CORRECTNESS_r{N}.json — the driver-equivalent local
gate over the FULL query inventory (the driver's own window caps at
50 entries; this file is the evidence for the tail).

Usage: python scripts/local_correctness.py ROUND [SF_DIR]

Fresh PLAIN SparkSession (no engine configs — same contract as the
driver's smoke check) + DuckDB views over the same parquet, compared
with plans/oracle.py's driver-equivalent compare.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    # round is REQUIRED: a stale default would silently overwrite a
    # historical round's artifact
    if len(sys.argv) < 2 or not sys.argv[1]:
        sys.exit("usage: local_correctness.py ROUND [SF_DIR]")
    rnd = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    # parse the SF BEFORE the multi-minute sweep (same guard as
    # bench.py) — a non-sf path must fail in the first second, not
    # after the inventory ran
    sf_raw = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    if not (sf_raw and sf_raw.replace(".", "").isdigit()):
        sys.exit(
            f"sf_dir must end in sf<number> (got {sf_dir!r}) — the "
            "artifact name derives from it"
        )
    sf = float(sf_raw)
    # artifact name derives from the SF: the canonical gate SF (0.01)
    # owns the bare r{N} name, sf0.1 the established _sf01 suffix —
    # two SFs can no longer overwrite each other's evidence
    if sf == 0.01:
        suffix = ""
    elif sf == 0.1:
        suffix = "_sf01"
    else:
        suffix = f"_sf{sf_raw.replace('.', '')}"

    from pyspark.sql import SparkSession

    from odsc_agentic_ai_summit_2025_spark.plans.oracle import run_inventory

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    results = run_inventory(spark, sf_dir)
    out = {
        "sf": sf,
        "gate": (
            "fresh plain SparkSession + DuckDB, driver-equivalent "
            "compare (plans/oracle.py)"
        ),
        "n_queries": len(results),
        "results": {
            name: {
                "status": "match" if ok else "MISMATCH",
                "detail": None if ok else detail,
            }
            for name, (ok, detail) in results.items()
        },
    }
    path = f"LOCAL_CORRECTNESS_r{rnd}{suffix}.json"
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    n_bad = sum(1 for r in out["results"].values() if r["status"] != "match")
    print(f"{path}: {len(results) - n_bad}/{len(results)} match")
    if n_bad:
        for name, r in out["results"].items():
            if r["status"] != "match":
                print(f"  {name}: {r['detail']}")
        sys.exit(1)


if __name__ == "__main__":
    main()
