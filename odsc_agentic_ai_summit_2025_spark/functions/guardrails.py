"""PII guardrails: email detection + masking + action policy
(SURVEY §2.7 F3-F5, §2.9 L11; reference src/guardrails.py:93-352).

Detection and masking are pure column expressions — regex extract-all
and a backreference substitution — so the whole guardrail layer runs
JVM-side inside whole-stage codegen; there is no UDF in the hot path.
The same regexes are exposed as plain-Python helpers for the
driver-side RAG question/answer guardrails (one string at a time).

Masking policy: keep the first and last character of the local part,
replace the middle with ``***``, keep the domain — enough to
recognize "was this my address" without leaking it (the reference's
positional mask, src/guardrails.py:200-237).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"

# first char | middle (masked, >=1 char so the local part is >=3 and
# the first+last reveal leaves something hidden) | last char | @domain
_MASK_PATTERN = (
    r"([A-Za-z0-9._%+-])([A-Za-z0-9._%+-]+)([A-Za-z0-9._%+-])"
    r"@([A-Za-z0-9.-]+\.[A-Za-z]{2,})"
)
_MASK_REPLACEMENT = r"$1***$3@$4"

# 1-2 char locals get a FULL mask — a positional first+last mask
# would reveal the entire local part. Runs AFTER the positional pass;
# the left guard excludes '*' so already-masked "a***c@..." cannot
# re-match at "c@". Consuming guard, not lookbehind: portable to RE2.
_SHORT_MASK_PATTERN = (
    r"(^|[^A-Za-z0-9._%+*-])([A-Za-z0-9._%+-]{1,2})"
    r"@([A-Za-z0-9.-]+\.[A-Za-z]{2,})"
)
_SHORT_MASK_REPLACEMENT = r"$1***@$3"


def extract_emails(col: Column) -> Column:
    """F3: all email addresses in a string column → array<string>."""
    return F.regexp_extract_all(col, F.lit(EMAIL_PATTERN), 0)


def email_count(col: Column) -> Column:
    return F.size(extract_emails(col))


def email_domains(col: Column) -> Column:
    """F5: domain of each detected email (split on '@')."""
    return F.transform(
        extract_emails(col), lambda e: F.split(e, "@").getItem(1)
    )


def mask_emails(col: Column) -> Column:
    """F4/L11: positional mask, pure regexp_replace (no UDF); short
    (1-2 char) local parts mask fully in a second pass."""
    out = F.regexp_replace(col, _MASK_PATTERN, _MASK_REPLACEMENT)
    return F.regexp_replace(out, _SHORT_MASK_PATTERN, _SHORT_MASK_REPLACEMENT)


# ---------------------------------------------------------------------------
# Driver-side twins (RAG input/output guardrails run on one string)
# ---------------------------------------------------------------------------

_EMAIL_RE = re.compile(EMAIL_PATTERN)
_MASK_RE = re.compile(_MASK_PATTERN)
_SHORT_MASK_RE = re.compile(_SHORT_MASK_PATTERN)


def find_emails(text: str) -> list[str]:
    return _EMAIL_RE.findall(text)


def mask_emails_text(text: str) -> str:
    out = _MASK_RE.sub(r"\1***\3@\4", text)
    return _SHORT_MASK_RE.sub(r"\1***@\3", out)


@dataclass(frozen=True)
class GuardrailResult:
    """Outcome of validating one string (reference manager semantics,
    src/guardrails.py:240-352: BLOCK ≻ WARN ≻ LOG)."""

    action: str  # 'BLOCK' | 'WARN' | 'LOG'
    emails: tuple[str, ...]
    masked_text: str


def validate_text(
    text: str, block_threshold: int = 3, warn_threshold: int = 1
) -> GuardrailResult:
    emails = tuple(find_emails(text))
    if len(emails) >= block_threshold:
        action = "BLOCK"
    elif len(emails) >= warn_threshold:
        action = "WARN"
    else:
        action = "LOG"
    return GuardrailResult(action, emails, mask_emails_text(text))


# ---------------------------------------------------------------------------
# Detailed per-rule tracing (reference
# src/enhanced_guardrail_integration.py:53-147: every validation emits
# a span record — rule type, triggered, action, masking details,
# processing_time_ms — for observability/debugging)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class GuardrailTrace:
    """One rule's trace record for one validated string."""

    rule: str  # 'email' (the reference's only live rule)
    validation_type: str  # 'input' | 'output' | 'general'
    action: str  # 'BLOCK' | 'WARN' | 'LOG'
    triggered: bool
    n_matches: int
    masking_applied: bool
    original_length: int
    masked_length: int
    processing_time_ms: float


def validate_text_traced(
    text: str,
    validation_type: str = "general",
    block_threshold: int = 3,
    warn_threshold: int = 1,
) -> tuple[GuardrailResult, list[GuardrailTrace]]:
    """Driver-side validate that also emits the per-rule trace
    records (enhanced_guardrail_integration.py:76-141 semantics:
    run every rule, time it, record masking details)."""
    import time

    t0 = time.perf_counter()
    result = validate_text(text, block_threshold, warn_threshold)
    dt_ms = (time.perf_counter() - t0) * 1000.0
    masked = result.masked_text != text
    trace = GuardrailTrace(
        rule="email",
        validation_type=validation_type,
        action=result.action,
        triggered=len(result.emails) > 0,
        n_matches=len(result.emails),
        masking_applied=masked,
        original_length=len(text),
        masked_length=len(result.masked_text),
        processing_time_ms=dt_ms,
    )
    return result, [trace]


GUARDRAIL_TRACE_SCHEMA = (
    "rule string, validation_type string, action string, "
    "triggered boolean, n_matches int, masking_applied boolean, "
    "original_length int, masked_length int"
)


# ---------------------------------------------------------------------------
# Multi-rule PII surface (the reference's manager takes a LIST of
# guardrails, src/guardrails.py:240-352; email is its only shipped
# rule — phone/SSN are the natural next rules a training-data
# pipeline needs, same column-expression shape)
# ---------------------------------------------------------------------------

# "555-123-4567" | "(555) 123-4567" — the note corpus's phone shapes.
# Both numeric rules carry CONSUMING edge guards ([^0-9-] or string
# edge) so a 3-2-4 / 3-3-4 shaped substring INSIDE a longer digit run
# ("1234-56-7890" contains "234-56-7890") is not counted or masked;
# lookarounds would not consume but RE2 (the oracle engine) has none.
# Known trade: two matches separated by a SINGLE character share that
# character as right+left guard, so the second is missed — prose
# separates PII by words, and the gate fixtures do too.
PHONE_PATTERN = r"(^|[^0-9-])((\(\d{3}\)\s?|\d{3}-)\d{3}-\d{4})($|[^0-9-])"
_PHONE_GROUP = 2
_PHONE_MASK = r"$1XXX-XXX-XXXX$4"
SSN_PATTERN = r"(^|[^0-9-])(\d{3}-\d{2}-\d{4})($|[^0-9-])"
_SSN_GROUP = 2
_SSN_MASK = r"$1XXX-XX-XXXX$3"
# Dotted quad (r8 — the network-identifier class a crawl corpus scrub
# adds to the person-identifier rules above). Guards on BOTH edges
# (same discipline as phone/SSN): the left guard excludes '.'/digits
# so the tail of a longer dotted run ("10.1.2.3.4") cannot re-match
# mid-sequence, and the right guard keeps a quad-shaped PREFIX of a
# longer run ("10.1.2.3456") from being counted or half-masked. The
# mask keeps the network prefix and blacks out the host octet (the
# standard log-scrub convention). Same RE2 portability discipline as
# the rules above.
#
# Each octet is range-checked to 0-255 (r9, was \d{1,3}): a
# version-like "999.999.999.999" is not an address and must not be
# counted or masked. The alternation is RE2-compatible (no
# lookaround) and the repeated octet is NON-capturing so the group
# numbering every splice site relies on (\1 guard, \2 prefix,
# \5 right guard in the '\1\2***\5' mask) is unchanged. Known trade:
# leading-zero octets ("010.0.0.1") still match — over-masking a
# zero-padded address is the safe direction for a scrubber.
_IPV4_OCTET = r"25[0-5]|2[0-4]\d|1?\d?\d"
IPV4_PATTERN = (
    r"(^|[^0-9.])(((?:" + _IPV4_OCTET + r")\.){3})"
    r"(" + _IPV4_OCTET + r")($|[^0-9.])"
)
_IPV4_GROUP = 0
_IPV4_MASK = r"$1$2***$5"

#: rule name → (detect pattern, match group holding the PII itself)
#: (ipv4 deliberately NOT listed: q67's trace contract is the three
#: person-identifier rules; the IPv4 class is exercised by q106 and
#: composes via mask_pii, where it is a no-op on IP-free text)
PII_RULES: dict[str, tuple[str, int]] = {
    "email": (EMAIL_PATTERN, 0),
    "phone": (PHONE_PATTERN, _PHONE_GROUP),
    "ssn": (SSN_PATTERN, _SSN_GROUP),
}


def ipv4_count(col: Column) -> Column:
    return F.size(
        F.regexp_extract_all(col, F.lit(IPV4_PATTERN), _IPV4_GROUP)
    ).cast("long")


def mask_ipv4(col: Column) -> Column:
    """Keep the network prefix, mask the host octet."""
    return F.regexp_replace(col, IPV4_PATTERN, _IPV4_MASK)


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-rule match counts (column expressions, JVM-side)."""
    return {
        rule: F.size(F.regexp_extract_all(col, F.lit(pat), grp))
        for rule, (pat, grp) in PII_RULES.items()
    }


def mask_pii(col: Column) -> Column:
    """Mask every rule's matches: emails positionally (see
    ``mask_emails``), phones/SSNs fully (shape-preserving digit
    blackout — the usual redaction for numeric identifiers), IPv4s
    by host octet (prefix kept). All pure ``regexp_replace`` — JVM
    codegen, no UDF."""
    out = mask_emails(col)
    # ssn before phone: an SSN is not phone-shaped (3-2-4 vs 3-3-4),
    # but masked digits must not create new matches either way;
    # 'X' is not a digit so the two replacements cannot interact
    out = F.regexp_replace(out, SSN_PATTERN, _SSN_MASK)
    out = F.regexp_replace(out, PHONE_PATTERN, _PHONE_MASK)
    # last: 'X' is not a digit, so masked phones/SSNs cannot have
    # created a dotted quad, and the IP mask's '*' cannot feed any
    # earlier rule — order-independent in effect, pinned for clarity
    return mask_ipv4(out)


def pii_trace_df(
    df,
    text_col: str,
    id_col: str,
    validation_type: str = "general",
    block_threshold: int = 3,
    warn_threshold: int = 1,
):
    """Multi-rule batch trace table: one row per (record, rule) —
    the distributed form of the reference manager's rule loop
    (enhanced_guardrail_integration.py:79-83 runs every guardrail
    and appends one result each)."""
    masked = mask_pii(F.col(text_col))
    counts = pii_counts(F.col(text_col))
    from ..sources.io import ensure_min_partitions

    df = ensure_min_partitions(df, cost="gram")
    # Stage the per-rule counts as plain columns BELOW the explode:
    # each count appears three times in its rule struct (two CASE
    # thresholds + n_matches), and generator expressions get no
    # subexpression elimination, so inlining them ran every PII regex
    # 3x per row (isolated-profiled as the bulk of q67's r5 cost —
    # the r5 boundary-guarded patterns are ~3x pricier to evaluate).
    # A named column computes once per row; the explode restructures.
    staged = df.select(
        F.col(id_col),
        *[n.cast("int").alias(f"_n_{rule}") for rule, n in counts.items()],
        F.length(text_col).cast("int").alias("original_length"),
        F.length(masked).cast("int").alias("masked_length"),
    )
    per_rule = []
    for rule in counts:
        n = F.col(f"_n_{rule}")
        per_rule.append(
            F.struct(
                F.lit(rule).alias("rule"),
                F.when(n >= block_threshold, F.lit("BLOCK"))
                .when(n >= warn_threshold, F.lit("WARN"))
                .otherwise(F.lit("LOG"))
                .alias("action"),
                (n > 0).alias("triggered"),
                n.alias("n_matches"),
            )
        )
    return (
        staged.select(
            F.col(id_col),
            F.lit(validation_type).alias("validation_type"),
            F.explode(F.array(*per_rule)).alias("r"),
            "original_length",
            "masked_length",
        )
        .select(
            id_col,
            F.col("r.rule").alias("rule"),
            "validation_type",
            F.col("r.action").alias("action"),
            F.col("r.triggered").alias("triggered"),
            F.col("r.n_matches").alias("n_matches"),
            # attributed PER RULE: a rule that matched nothing applied
            # no masking, whatever the other rules did to the text
            # (every rule's mask changes its matches, so n>0 ⇔ masked)
            (F.col("r.n_matches") > 0).alias("masking_applied"),
            "original_length",
            "masked_length",
        )
    )


def guardrail_trace_df(
    df,
    text_col: str,
    id_col: str,
    validation_type: str = "general",
    block_threshold: int = 3,
    warn_threshold: int = 1,
):
    """Batch trace table: one row per (record, rule), pure column
    expressions (JVM-side — the distributed twin of
    ``validate_text_traced``; per-row wall-clock is a driver-side
    concept and is deliberately absent here)."""
    n = email_count(F.col(text_col))
    masked = mask_emails(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.lit("email").alias("rule"),
        F.lit(validation_type).alias("validation_type"),
        F.when(n >= block_threshold, F.lit("BLOCK"))
        .when(n >= warn_threshold, F.lit("WARN"))
        .otherwise(F.lit("LOG"))
        .alias("action"),
        (n > 0).alias("triggered"),
        n.cast("int").alias("n_matches"),
        (masked != F.col(text_col)).alias("masking_applied"),
        F.length(text_col).cast("int").alias("original_length"),
        F.length(masked).cast("int").alias("masked_length"),
    )
