"""Text-analysis column functions (training-data pipeline surface).

Everything here is a pure ``pyspark.sql.functions`` composition —
JVM-side, codegen-friendly, no Python UDFs — so the hot path stays in
whole-stage codegen at 100 TB. Each helper has an exact ANSI-SQL
twin used by the DuckDB oracles (see plans/textops.py).

The rolling character hash replaces the reference's reliance on
engine-internal hashing (LanceDB FTS tokenizer hashing is opaque);
an explicit polynomial hash is engine-portable and deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_RE = r"\s+"

# Modulus chosen so acc*MULT + 255 never overflows int64 between mods.
HASH_MOD = 1_000_000_007
HASH_MULT = 31

# Stopword list used by quality scoring (the synthetic corpus is
# lowercase English-ish word soup; 'the'/'a' are its function words).
STOPWORDS = ("the", "a")


def tokens(col: Column) -> Column:
    """Whitespace tokenization (matches DuckDB string_split_regex)."""
    return F.split(col, TOKEN_RE)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def unique_tokens(col: Column) -> Column:
    return F.array_distinct(tokens(col))


def stopword_count(col: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(sw, t)))


def char_poly_hash(col: Column, mod: int = HASH_MOD, mult: int = HASH_MULT) -> Column:
    """Rolling polynomial hash over characters, fold in int64.

    ``h = fold(chars, 0, (acc, c) -> (acc*mult + ascii(c)) % mod)``

    Deterministic and identical in any engine with a left fold —
    DuckDB twin: ``list_reduce(list_prepend(0, list_transform(
    string_split(x, ''), c -> ascii(c))), (a, b) -> (a*31 + b) %
    1000000007)``. Used as the token hash for MinHash/SimHash and as
    the document fingerprint (SURVEY "document fingerprinting").
    """
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(mult) + F.ascii(c)) % F.lit(mod),
    )


# BPE-ish pre-tokenizer (GPT-2 family shape, simplified to the
# lookahead-free core so the SAME pattern runs under Java regex
# (Spark) and RE2 (DuckDB), both of which use leftmost-first
# alternation): contraction suffixes, space-prefixed letter runs,
# space-prefixed digit runs, space-prefixed punctuation runs, and
# residual whitespace. Counting THESE pieces — not whitespace words —
# is what approximates an LLM tokenizer's token count, the budgeting
# signal a training-data pipeline actually needs.
BPE_SPLIT_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9]+|\s+"


def bpe_pieces(col: Column) -> Column:
    """BPE-ish pre-token pieces of lowercased text (array<string>)."""
    return F.regexp_extract_all(F.lower(col), F.lit(BPE_SPLIT_RE), 0)


def char_poly_hash_arrow(arr, mod: int = HASH_MOD, mult: int = HASH_MULT):
    """Vectorized twin of :func:`char_poly_hash` for Arrow kernels:
    pyarrow string array of ASCII tokens → int64 hash array,
    identical value-for-value to the column expression
    (property-tested, sliced arrays included).

    Tokens are ``[a-z0-9]+`` (ASCII), so byte == codepoint
    (``F.ascii``) and the rolling fold runs as one vectorized pass per
    character position over the array's single contiguous data buffer,
    instead of one interpreted Catalyst lambda step per character or
    one Python/numpy unicode object per token (guide §4.2: operations
    that only re-slice bytes should run on the buffers)."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    bufs = arr.buffers()  # [validity, offsets(int32), data(uint8)]
    offs = np.frombuffer(
        bufs[1], dtype=np.int32, count=n + 1 + arr.offset
    )[arr.offset:].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8).astype(np.int64)
    starts, lengths = offs[:-1], offs[1:] - offs[:-1]
    h = np.zeros(n, dtype=np.int64)
    for j in range(int(lengths.max())):
        live = lengths > j
        if not live.any():
            break
        h[live] = (h[live] * mult + data[starts[live] + j]) % mod
    return h


def char_poly_hash_sql(expr: str, mod: int = HASH_MOD, mult: int = HASH_MULT) -> str:
    """The DuckDB-SQL twin of :func:`char_poly_hash`."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, b) -> (a * {mult} + b) % {mod})"
    )


# F8: number-word variants used by golden-answer matching (reference
# src/tests/test_graphrag.py:6-35 — an expected "1" also matches "one")
NUMBER_WORDS = {
    "1": "one", "2": "two", "3": "three", "4": "four", "5": "five",
    "6": "six", "7": "seven", "8": "eight", "9": "nine", "10": "ten",
}


def number_variants(s: str) -> list[str]:
    """All accepted renderings of an expected value (driver-side
    helper for assertion matching, not a data-plane op)."""
    out = [s]
    if s in NUMBER_WORDS:
        out.append(NUMBER_WORDS[s])
    inv = {v: k for k, v in NUMBER_WORDS.items()}
    if s.lower() in inv:
        out.append(inv[s.lower()])
    return out
