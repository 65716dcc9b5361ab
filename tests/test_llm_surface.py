"""LLM operator surface (SURVEY §2.9) with the deterministic mock:
extraction UDFs, field-accuracy eval, guardrails, schema XML, and the
end-to-end hybrid RAG path on the reference's golden questions."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

NOTES = "/root/reference/data/note.json"
EXTRACTED = "/root/reference/data/extracted_fhir.json"

needs_ref = pytest.mark.skipif(
    not os.path.exists(NOTES), reason="reference data not present"
)


@pytest.fixture(scope="module")
def notes_df(spark):
    from odsc_agentic_ai_summit_2025_spark.schemas import NOTES as NOTES_SCHEMA
    from odsc_agentic_ai_summit_2025_spark.sources.io import read_json_records

    return read_json_records(spark, NOTES, NOTES_SCHEMA).cache()


@pytest.fixture(scope="module")
def gold_df(spark):
    from odsc_agentic_ai_summit_2025_spark.schemas import EXTRACTED_FHIR
    from odsc_agentic_ai_summit_2025_spark.sources.io import read_json_records

    return read_json_records(spark, EXTRACTED, EXTRACTED_FHIR).cache()


# ---------------------------------------------------------------------------
# L1-L4 extraction as a distributed operator
# ---------------------------------------------------------------------------

@needs_ref
def test_extract_fhir_schema_and_rows(spark, notes_df):
    from odsc_agentic_ai_summit_2025_spark.llm.extract import extract_fhir
    from odsc_agentic_ai_summit_2025_spark.schemas import EXTRACTED_FHIR

    sample = notes_df.filter(F.col("record_id") <= 50)
    out = extract_fhir(sample)
    assert out.schema == EXTRACTED_FHIR
    rows = {r["record_id"]: r for r in out.collect()}
    assert len(rows) == 50
    r45 = rows[45]
    assert r45["name"]["prefix"] == "Ms."
    assert r45["name"]["family"] == "Rodríguez"
    assert r45["birthDate"] == "1995-12-01"
    assert r45["address"]["city"] == "East Longmeadow"
    assert r45["maritalStatus"] == "NeverMarried"
    assert r45["allergy"]["substance"][0]["name"] == "shellfish"
    assert r45["allergy"]["substance"][0]["category"] == "food"
    assert r45["practitioner"]["name"]["family"] == "Paucek"


@needs_ref
def test_extraction_determinism_across_partitioning(spark, notes_df):
    from odsc_agentic_ai_summit_2025_spark.llm.extract import extract_fhir

    sample = notes_df.filter(F.col("record_id") <= 30)
    a = extract_fhir(sample.coalesce(1)).orderBy("record_id").collect()
    b = extract_fhir(sample.repartition(7)).orderBy("record_id").collect()
    assert a == b


# ---------------------------------------------------------------------------
# Eval harness: mock extraction scored against the reference's LLM
# extraction as gold (the same harness scores any extractor)
# ---------------------------------------------------------------------------

@needs_ref
def test_field_accuracy_report(spark, notes_df, gold_df):
    from odsc_agentic_ai_summit_2025_spark.llm.eval import (
        field_accuracy,
        overall_accuracy,
    )
    from odsc_agentic_ai_summit_2025_spark.llm.extract import extract_fhir

    extracted = extract_fhir(notes_df)
    report = field_accuracy(extracted, gold_df).cache()
    rows = {r["field"]: r for r in report.collect()}
    assert len(rows) == 15
    assert all(r["total"] == 2726 for r in rows.values())
    # the rule-based mock must clear a floor on the template-driven
    # fields; the reference's live-LLM baseline is 93.9% overall
    assert rows["birthDate"]["accuracy"] > 0.80
    assert rows["maritalStatus"]["accuracy"] > 0.80
    acc = overall_accuracy(report)
    # r10: the rule set clears the reference's live-LLM 93.9% and the
    # 95% bar (38868/40890 at HEAD, scripts/tune_extraction.py)
    assert 0.95 <= acc <= 1.0


@needs_ref
def test_field_accuracy_identity(spark, gold_df):
    """gold vs gold must be 100% on every field — comparator sanity."""
    from odsc_agentic_ai_summit_2025_spark.llm.eval import field_accuracy

    report = field_accuracy(gold_df, gold_df)
    bad = report.filter(F.col("matches") != F.col("total")).collect()
    assert bad == [], bad


# ---------------------------------------------------------------------------
# Guardrails (F3-F5, L11)
# ---------------------------------------------------------------------------

def test_guardrail_columns(spark):
    from odsc_agentic_ai_summit_2025_spark.functions import guardrails as g

    df = spark.createDataFrame(
        [
            (1, "reach me at john.doe@example.com or jane@x.org"),
            (2, "no pii here"),
        ],
        "id int, text string",
    )
    out = df.select(
        "id",
        g.email_count(F.col("text")).alias("n"),
        g.email_domains(F.col("text")).alias("domains"),
        g.mask_emails(F.col("text")).alias("masked"),
    ).collect()
    r1 = next(r for r in out if r["id"] == 1)
    assert r1["n"] == 2
    assert r1["domains"] == ["example.com", "x.org"]
    assert "j***e@example.com" in r1["masked"]
    assert "j***e@x.org" in r1["masked"]
    assert "john.doe@" not in r1["masked"]
    r2 = next(r for r in out if r["id"] == 2)
    assert r2["n"] == 0 and r2["masked"] == "no pii here"


def test_guardrail_policy_driver_side():
    from odsc_agentic_ai_summit_2025_spark.functions.guardrails import (
        mask_emails_text,
        validate_text,
    )

    assert validate_text("clean question").action == "LOG"
    assert validate_text("mail a@b.com please").action == "WARN"
    many = "a@b.com c@d.com e@f.org"
    assert validate_text(many).action == "BLOCK"
    # spark-side and driver-side masks agree by construction
    assert mask_emails_text("john.doe@example.com") == "j***e@example.com"


# ---------------------------------------------------------------------------
# Schema XML (F13)
# ---------------------------------------------------------------------------

@needs_ref
def test_schema_xml(spark, gold_df):
    from odsc_agentic_ai_summit_2025_spark.functions.schema_xml import (
        fhir_graph_schema_xml,
    )
    from odsc_agentic_ai_summit_2025_spark.operators.graph import build_graph

    xml = fhir_graph_schema_xml(build_graph(gold_df))
    assert '<node label="patient">' in xml
    assert '<rel label="treats" from="practitioner" to="patient">' in xml
    assert '<property name="birthDate" type="DATE"/>' in xml


# ---------------------------------------------------------------------------
# End-to-end hybrid RAG with the mock client (SURVEY §3.1) — the
# golden questions must come back right through the FULL path
# (guardrail → prune → entities → text2sql → spark.sql → synthesis).
# ---------------------------------------------------------------------------

@needs_ref
def test_hybrid_rag_golden_path(spark, notes_df, gold_df):
    from odsc_agentic_ai_summit_2025_spark.llm.rag import HybridRag
    from odsc_agentic_ai_summit_2025_spark.operators.graph import build_graph
    from odsc_agentic_ai_summit_2025_spark.plans.golden import GOLDEN_CASES

    rag = HybridRag(spark, build_graph(gold_df), notes_df)
    # ALL 10 golden questions through the whole pipeline — the
    # reference's live-LLM run documents 9/10 (README.md:142-151);
    # the deterministic path must go 10/10
    for case in GOLDEN_CASES:
        ans = rag.ask(case.question)
        assert ans.guardrail_action == "LOG"
        for expected in case.expected:
            assert expected in ans.final_answer, (
                f"{case.question!r} → {ans.final_answer!r}"
            )
        # vector branch retrieved top-2 context (reference top_k=2)
        assert len(ans.context_ids) == 2


@needs_ref
def test_hybrid_rag_guardrail_masks_question(spark, notes_df, gold_df):
    from odsc_agentic_ai_summit_2025_spark.llm.rag import HybridRag
    from odsc_agentic_ai_summit_2025_spark.operators.graph import build_graph

    rag = HybridRag(spark, build_graph(gold_df), notes_df)
    ans = rag.ask(
        "What are the unique categories of substances patients are "
        "allergic to? Reply to bob.smith@corp.com"
    )
    assert ans.guardrail_action == "WARN"
    assert "bob.smith@corp.com" not in ans.masked_question
    assert "b***h@corp.com" in ans.masked_question


def test_mask_emails_short_locals_fully_masked(spark):
    """1-2 char local parts must mask FULLY — the positional
    first+last mask would reveal the whole local (r5 review: 'a@x'
    was detected but never masked, 'ab@x' came back a***b@x)."""
    from odsc_agentic_ai_summit_2025_spark.functions.guardrails import (
        mask_emails,
        mask_emails_text,
    )

    text = "reach a@gmail.com or ab@corp.io or alice@example.org ok"
    want = "reach ***@gmail.com or ***@corp.io or a***e@example.org ok"
    (got,) = (
        spark.createDataFrame([(text,)], "t string")
        .select(mask_emails(F.col("t")).alias("m"))
        .collect()
    )
    assert got["m"] == want
    assert mask_emails_text(text) == want  # driver twin agrees


def test_ssn_rule_ignores_longer_digit_runs(spark):
    """A 3-2-4 shaped substring inside a longer digit run is not an
    SSN: the guarded pattern must not count or mask it, while a real
    SSN in prose still is (r5 review: the comment claimed edge guards
    the pattern did not have)."""
    from odsc_agentic_ai_summit_2025_spark.functions.guardrails import (
        mask_pii,
        pii_counts,
    )

    rows = [
        (1, "account 1234-56-7890 is not an ssn"),
        (2, "ssn 123-45-6789 ends here"),
        (3, "ssn 123-45-6789."),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    counts = pii_counts(F.col("t"))
    got = {
        r["id"]: (r["n"], r["m"])
        for r in df.select(
            "id", counts["ssn"].alias("n"), mask_pii(F.col("t")).alias("m")
        ).collect()
    }
    assert got[1] == (0, "account 1234-56-7890 is not an ssn")
    assert got[2] == (1, "ssn XXX-XX-XXXX ends here")
    assert got[3] == (1, "ssn XXX-XX-XXXX.")


def test_ipv4_rule_guards_and_masking(spark):
    """The r8 IPv4 class: dotted quads count once and mask their host
    octet; the tail of a longer dotted run cannot re-match (consuming
    guard excludes '.' and digits); version-like strings with fewer
    than three dots never match; mask_pii is unchanged on IP-free
    text (the q67-invariance property the rule registry relies on)."""
    from odsc_agentic_ai_summit_2025_spark.functions.guardrails import (
        ipv4_count,
        mask_pii,
    )

    rows = [
        (1, "server 10.0.42.7 responded"),
        (2, "chain 10.1.2.3.4 is no well-formed quad"),
        (3, "version 1.2.3 is not an address"),
        (4, "edge 192.168.0.1"),
        (5, "ssn 123-45-6789 and no ip at all"),
        (6, "build 10.1.2.3456 is a version-ish id, not an IP"),
        (7, "marker 999.999.999.999 is version-like, octets > 255"),
        (8, "high end 255.255.255.255 is a real address"),
        (9, "bad octet 256.1.2.3 and 1.2.3.256 both out of range"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {
        r["id"]: (r["n"], r["m"])
        for r in df.select(
            "id",
            ipv4_count(F.col("t")).alias("n"),
            mask_pii(F.col("t")).alias("m"),
        ).collect()
    }
    assert got[1] == (1, "server 10.0.42.*** responded")
    # a 5-part dotted run has no well-formed quad boundary: every
    # 4-octet window fails one of the two edge guards — same
    # longer-run discipline as the phone/SSN rules
    assert got[2] == (0, rows[1][1])
    assert got[3] == (0, rows[2][1])
    # end-of-string is a valid right edge
    assert got[4] == (1, "edge 192.168.0.***")
    # IP-free text: mask_pii output identical to the pre-r8 3-rule
    # chain (ssn still masked, nothing else touched)
    assert got[5] == (0, "ssn XXX-XX-XXXX and no ip at all")
    # quad-shaped PREFIX of a longer digit run: right guard blocks it
    # (no count, no half-masked host digit)
    assert got[6] == (0, rows[5][1])
    # r9 octet range check: >255 octets are version-like strings, not
    # addresses — neither counted nor masked
    assert got[7] == (0, rows[6][1])
    assert got[8] == (1, "high end 255.255.255.*** is a real address")
    assert got[9] == (0, rows[8][1])


def test_pii_trace_masking_attributed_per_rule(spark):
    """A rule that matched nothing must report masking_applied=false
    even when another rule redacted the text."""
    from odsc_agentic_ai_summit_2025_spark.functions.guardrails import (
        pii_trace_df,
    )

    df = spark.createDataFrame(
        [(1, "mail me at someone@example.com today")], "doc_id long, text string"
    )
    rows = {
        r["rule"]: (r["n_matches"], r["masking_applied"])
        for r in pii_trace_df(df, "text", "doc_id").collect()
    }
    assert rows["email"] == (1, True)
    assert rows["phone"] == (0, False)
    assert rows["ssn"] == (0, False)
