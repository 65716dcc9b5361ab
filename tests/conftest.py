from __future__ import annotations

import os

import pytest

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from odsc_agentic_ai_summit_2025_spark.session import get_spark

    # host-sized session; shuffle partitions low for speed
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


FHIR_NOTES = 120


@pytest.fixture(scope="session")
def fhir_corpus(spark):
    """A seeded FHIR note corpus from ``ragbench.fhirgen`` (imported,
    not copied): ``notes`` as a [record_id, note] frame, the
    ground-truth ``records`` the mock extractor recovers field for
    field and the ``golden`` (question, expected) pairs. It stands in
    for the reference data set where that is absent."""
    from types import SimpleNamespace

    from ragbench import fhirgen

    notes, records = fhirgen.generate(FHIR_NOTES, seed=7)
    return SimpleNamespace(
        notes=spark.createDataFrame(notes, "record_id long, note string"),
        records=records,
        golden=fhirgen.Graph(records).golden(),
    )
