"""Text-analysis primitives for the LLM-data-pipeline operators.

Everything here is a Column expression factory (JVM-side, codegen-able)
except language ID, which is a Pandas UDF over an n-gram/stopword
profile table (Arrow-batched; the profiles are tiny constants shipped
in the closure).

Design for 100 TB: per-document features are embarrassingly parallel
map work — no shuffle at all until the caller aggregates; all string
ops below stay inside whole-stage codegen.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# ---------------------------------------------------------------- tokenization

#: BPE-ish pre-tokenizer: word pieces OR single non-space symbols —
#: the GPT-2-style contiguous-letters/digits/punctuation split,
#: minus byte-level details (public regex shape).
BPEISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def ws_tokens(col: str) -> Column:
    """Single-space tokenization — deliberately IDENTICAL to DuckDB's
    STRING_SPLIT(text, ' ') (the oracle dialect has no regex split with
    matching semantics); consecutive spaces yield empty tokens on both
    sides, keeping every token-derived ratio bit-comparable."""
    return F.split(F.col(col), " ")


def bpeish_tokens(col: str) -> Column:
    """Regex pre-tokenization approximating a BPE pre-split.  Uses the
    Column API, NOT an F.expr SQL string: inside a SQL literal the
    pattern's ``\\s`` is escape-processed to a bare ``s`` (Spark 4's
    default escapedStringLiterals=false), silently turning the symbol
    class into ``[^A-Za-z0-9s]`` and emitting whitespace runs as
    tokens (review r12; caught by test_functions_text)."""
    return F.regexp_extract_all(F.col(col), F.lit(BPEISH_PATTERN), 0)


# ---------------------------------------------------------------- quality scoring

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


def quality_features(col: str = "text") -> dict[str, Column]:
    """Deterministic per-document quality features (all int/ratio
    arithmetic — bit-exact against a SQL oracle)."""
    toks = ws_tokens(col)
    # split('', ' ') = [''] so n_tok >= 1 always; n_chars can be 0 for
    # empty text → guard that denominator (mirrored in the oracle)
    n_tok = F.size(toks).cast("long")
    n_chars = F.length(F.col(col)).cast("long")
    chars_div = F.greatest(n_chars, F.lit(1).cast("long"))
    alpha = F.length(F.regexp_replace(F.col(col), "[^a-zA-Z]", "")).cast("long")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast("long")
    return {
        "n_tokens": n_tok,
        "n_chars": n_chars,
        "avg_token_len": (n_chars - (n_tok - 1)) / n_tok,  # chars net of separators
        "alpha_ratio": alpha / chars_div,
        "stopword_ratio": n_stop / n_tok,
        "distinct_ratio": F.size(F.array_distinct(toks)).cast("long") / n_tok,
    }


def quality_score(col: str = "text") -> Column:
    """Composite [0,1]-ish score; fixed linear combination of features
    (identical IEEE ops in the oracle)."""
    f = quality_features(col)
    return (
        0.4 * f["stopword_ratio"] + 0.4 * f["distinct_ratio"] + 0.2 * f["alpha_ratio"]
    )


# ---------------------------------------------------------------- fingerprinting

#: modulus keeps every intermediate < 2^63 under ANSI overflow checks
FP_MOD = 1_000_000_007


def char_hash(token_expr: str) -> str:
    """Polynomial hash of a token's character codes (SQL fragment) —
    arithmetic only, so DuckDB can evaluate the identical formula."""
    return (
        f"aggregate(transform(sequence(1, length({token_expr})),"
        f" i -> ascii(substring({token_expr}, i, 1))),"
        f" 0L, (h, c) -> pmod(h * 31 + c, {FP_MOD}))"
    )


def fingerprint(col: str = "text") -> Column:
    """Order-sensitive rolling document fingerprint: fold token hashes
    with h' = h*33 + token_hash (mod p).  Same text → same fingerprint;
    any token reorder/edit → different (with prob 1-1/p)."""
    return F.expr(
        f"aggregate(split({col}, ' '), 0L,"
        f" (h, t) -> pmod(h * 33 + {char_hash('t')}, {FP_MOD}))"
    )


def o_fingerprint(col: str = "text") -> str:
    """DuckDB twin of :func:`fingerprint` (list_reduce + same mod math).

    DuckDB's list_reduce has no init accumulator, so prepend a zero.
    """
    chash = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT),"
        " list_transform(range(1, length(t) + 1),"
        " i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),"
        f" (h, c) -> (h * 31 + c) % {FP_MOD})"
    )
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
        f" list_transform(string_split({col}, ' '),"
        f" t -> {chash})),"
        f" (h, th) -> (h * 33 + th) % {FP_MOD})"
    )


# ---------------------------------------------------------------- language ID

#: tiny public stopword/character profiles; scoring = hit counting.
_LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "fr": ("le", "la", "les", "de", "des", "et", "est", "une", "que", "pour"),
    "es": ("el", "la", "los", "de", "y", "es", "en", "que", "una", "por"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "für"),
}


def _langid_one(text: str) -> str:
    if not text:
        return "und"
    # CJK codepoints dominate → zh (coarse but deterministic)
    cjk = sum(1 for ch in text if "一" <= ch <= "鿿")
    if cjk > 0 and cjk >= len(text) * 0.2:
        return "zh"
    toks = text.lower().split()
    if not toks:
        return "und"
    best, best_hits = "und", 0
    for lang, words in _LANG_PROFILES.items():
        hits = sum(1 for t in toks if t in words)
        if hits > best_hits:
            best, best_hits = lang, hits
    return best


@F.pandas_udf(StringType())
def langid_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched language ID (n-gram/stopword heuristic)."""
    return texts.map(_langid_one)


# ---------------------------------------------------------------- fuzzy-match blocking

#: JVM expression producing ALL deletion variants of `word` at depth
#: <= 2 (FastSS blocking keys): the word itself, every single-char
#: deletion, every two-char deletion.  sequence(1, L) is safe for any
#: L >= 1; the (i, j) grid is filtered to j > i rather than generated
#: with sequence(i+1, L), because Spark's sequence(start, stop)
#: DESCENDS when start > stop — the empty-range trap.
DELETION_VARIANTS = """
array_distinct(concat(
  array(word),
  transform(sequence(1, length(word)),
            i -> concat(substring(word, 1, i - 1),
                        substring(word, i + 1, length(word) - i))),
  transform(
    filter(flatten(transform(sequence(1, length(word)),
                             i -> transform(sequence(1, length(word)),
                                            j -> struct(i AS i, j AS j)))),
           p -> p.j > p.i),
    p -> concat(substring(word, 1, p.i - 1),
                substring(word, p.i + 1, p.j - p.i - 1),
                substring(word, p.j + 1, length(word) - p.j)))
))
"""


# ---------------------------------------------------------------- integer surprisal


def blen_ladder(col: str) -> str:
    """CASE ladder computing bit_length(col) for 0 ≤ col < 2⁴⁰ — the
    cross-engine floor-log2 (same convention as operators/bpe.ilog2:
    blen(c) = k ⟺ 2^(k−1) ≤ c < 2^k, blen(0) = 0), but as a CASE
    chain that stays inside whole-stage codegen instead of an
    interpreted HOF indicator sum."""
    return (
        "CASE "
        + " ".join(f"WHEN {col} < {1 << k} THEN {k}" for k in range(0, 41))
        + " ELSE 41 END"
    )
