"""Text kernels: normalization, tokenization, quality, language ID,
fingerprinting.

The whitespace/code-block kernels mirror the reference extract helpers
(`normalize` — /root/reference/src/browserlib/extract-dfns.mjs:44-46;
`trimSpaces` — /root/reference/src/browserlib/trim-spaces.mjs:14-36).

The analysis kernels (tokens / quality / langid / fingerprint) are the
training-data-pipeline additions. Every one of them is a pure Column
expression (JVM, whole-stage codegen) designed so an identical ANSI-SQL
formulation runs on DuckDB for the oracle: no engine-specific hashes, no
Python UDFs, deterministic across engines.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# ---------------------------------------------------------------------------
# Reference-parity string kernels
# ---------------------------------------------------------------------------


def normalize_ws_py(s: str) -> str:
    """trim + collapse whitespace (extract-dfns.mjs:44-46)."""
    return re.sub(r"\s+", " ", s).strip()


def trim_spaces_py(text: str) -> str:
    """De-indent code blocks (trim-spaces.mjs:14-36).

    Drops the common leading-space count of lines 2+, rstrips every line,
    blanks whitespace-only lines.
    """
    lines = text.split("\n")
    indents = [
        len(line) - len(line.lstrip(" "))
        for line in lines[1:]
        if line.strip()
    ]
    cut = min(indents) if indents else 0
    out = [lines[0].rstrip()]
    for line in lines[1:]:
        if not line.strip():
            out.append("")
        else:
            out.append(line[cut:].rstrip())
    return "\n".join(out)


@pandas_udf(StringType())
def trim_spaces_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda x: trim_spaces_py(x) if x is not None else None)


# ---------------------------------------------------------------------------
# Training-data analysis kernels (Column-only; oracle-portable)
# ---------------------------------------------------------------------------

# Small fixed stopword lists. Deterministic, shared verbatim with the
# DuckDB oracle SQL (see reffy_spark/plans/oracle_helpers.py).
STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"]
STOPWORDS_FR = ["le", "la", "de", "et", "les", "des", "un", "une", "est", "que"]
STOPWORDS_DE = ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"]


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization; empty/whitespace-only text → empty array.

    The empty-token filter matters for robustness: ``trim`` strips only
    spaces, so text edged with tabs/newlines would otherwise yield
    phantom "" tokens (and phantom n-grams downstream). The DuckDB
    oracle twin (`_TOKS` in plans/entry_queries.py) applies the same
    ``list_filter``."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def ngrams_col(toks: Column, n: int) -> Column:
    """Word n-grams of a token array, WITH multiplicity (repetition
    stats need the counts; ``array_distinct`` of it is the shingle set).

    Docs shorter than n tokens get an empty array: Spark's
    ``sequence(1, 0)`` DESCENDS to [1, 0] (unlike DuckDB's empty
    ``range``), which would feed slice() an invalid 0 start."""
    idx = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text))


def stopword_count_from_tokens(toks: Column, stopwords: list[str]) -> Column:
    """Stopword occurrences over an ALREADY-COMPUTED token array — the
    shared-tokenize building block for multi-kernel profiles (r8): a
    profile that calls the text-based kernels independently re-runs the
    split+filter tokenization once per kernel."""
    arr = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def stopword_count_col(text: Column, stopwords: list[str]) -> Column:
    return stopword_count_from_tokens(tokens_col(text), stopwords)


def stopword_ratio_col(text: Column, stopwords: list[str]) -> Column:
    n = token_count_col(text)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        stopword_count_col(text, stopwords).cast("double") / n.cast("double")
    )


def quality_score_col(text: Column) -> Column:
    """Heuristic doc-quality in [0,1]: length band + stopword presence +
    alpha ratio. Mirrors the shape of public web-text quality filters
    (C4/Gopher-style rules), kept SQL-portable.
    """
    n_tok = token_count_col(text).cast("double")
    n_chars = F.length(text).cast("double")
    mean_tok_len = F.when(n_tok == 0, F.lit(0.0)).otherwise(n_chars / n_tok)
    sw = stopword_ratio_col(text, STOPWORDS_EN)
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    tok_ok = F.when((mean_tok_len >= 2.0) & (mean_tok_len <= 12.0), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    sw_ok = F.when(sw >= 0.01, F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round((len_ok + tok_ok + sw_ok) / F.lit(3.0), 6)


def lang_id_col(text: Column) -> Column:
    """Stopword-vote language ID over {en, fr, de}; 'und' when no votes."""
    en = stopword_count_col(text, STOPWORDS_EN)
    fr = stopword_count_col(text, STOPWORDS_FR)
    de = stopword_count_col(text, STOPWORDS_DE)
    return (
        F.when((en >= fr) & (en >= de) & (en > 0), F.lit("en"))
        .when((fr >= de) & (fr > 0), F.lit("fr"))
        .when(de > 0, F.lit("de"))
        .otherwise(F.lit("und"))
    )


FP_MOD = 1_000_000_007
FP_MULT = 131


def token_code_col(tok: Column) -> Column:
    """Portable per-token integer code: ascii(first char)*256 + min(len,255).

    Chosen because ``ascii``/``length`` exist with identical semantics in
    Spark SQL and DuckDB — no engine-specific hash functions.
    """
    return (F.ascii(tok) * F.lit(256) + F.least(F.length(tok), F.lit(255))).cast("long")


def fingerprint_from_tokens(toks: Column) -> Column:
    """Rolling-hash fingerprint over an already-computed token array."""
    codes = F.transform(toks, token_code_col)
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(FP_MULT) + x) % F.lit(FP_MOD),
    )


# ---------------------------------------------------------------------------
# Reference scalar kernels F17 / F18
# ---------------------------------------------------------------------------


def clean_method_name_py(name: str) -> str:
    """F17: ES method-name cleanup (extract-dfns.mjs cleanMethodName):
    drop optional-arg brackets, trim spaces around parens/commas."""
    name = name.replace("[", "").replace("]", "")
    name = re.sub(r" \( *", "(", name, count=1)
    name = re.sub(r" *\)", ")", name, count=1)
    return re.sub(r" *,", ",", name)


def clean_method_name_col(c: Column) -> Column:
    # JS .replace(/ \( */, ...) and .replace(/ *\)/, ...) are first-match
    # only; anchor with a lazy ^-group so regexp_replace (global) rewrites
    # just the first occurrence. The comma rule is /g in the reference.
    out = F.regexp_replace(c, r"[\[\]]", "")
    out = F.regexp_replace(out, r"^(.*?) \( *", "$1(")
    out = F.regexp_replace(out, r"^(.*?) *\)", "$1)")
    return F.regexp_replace(out, r" *,", ",")


def css_property_to_idl_attributes(prop: str) -> list[str]:
    """F18: CSS property → generated IDL attribute names per CSSOM
    (util.js:923-960): dashed form, camel-cased form if different, and
    the webkit-cased variant for -webkit- properties."""

    def to_idl(p: str, lowercase_first: bool) -> str:
        if lowercase_first:
            p = p[1:]
        out = []
        upper_next = False
        for ch in p:
            if ch == "-":
                upper_next = True
            elif upper_next:
                upper_next = False
                out.append(ch.upper())
            else:
                out.append(ch)
        return "".join(out)

    res = [prop]
    camel = to_idl(prop, False)
    if camel != prop:
        res.append(camel)
    if prop.startswith("-webkit-"):
        res.append(to_idl(prop, True))
    return res

def _camel_col(name: Column) -> Column:
    """lowerCamelCase a dashed name (JVM-side; CSS property names are
    lowercase, so initcap on the later segments matches the reference's
    per-char uppercasing)."""
    return F.concat_ws(
        "",
        F.transform(
            F.split(name, "-"),
            lambda s, i: F.when(i == 0, s).otherwise(F.initcap(s)),
        ),
    )


def css_property_to_idl_attributes_col(prop: Column) -> Column:
    """F18 as a Column expression: array of generated IDL attribute names
    for a CSS property (util.js:923-960; Python twin above)."""
    camel = _camel_col(prop)
    webkit = _camel_col(F.substring(prop, 2, 2 ** 30))
    arr = F.array(prop)
    arr = F.when(camel != prop, F.concat(arr, F.array(camel))).otherwise(arr)
    return F.when(
        prop.startswith("-webkit-"), F.concat(arr, F.array(webkit))
    ).otherwise(arr)


# ---------------------------------------------------------------------------
# BPE-ish regex token counting
# ---------------------------------------------------------------------------

# GPT-2-style pre-tokenizer split pattern, restricted to constructs with
# identical semantics in Java regex (Spark) and RE2 (DuckDB): no
# lookahead, ASCII classes, leftmost-first alternation. Contractions,
# optionally-space-prefixed letter runs / digit runs / punctuation runs.
BPE_SPLIT_PATTERN = (
    r"'(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^ \t\n\rA-Za-z0-9']+|'"
)


def bpe_token_count_col(text: Column) -> Column:
    """Number of BPE-ish pre-tokenizer pieces (proxy for LLM token count;
    whitespace token counts undercount code/punctuation-heavy text)."""
    return F.regexp_count(text, F.lit(BPE_SPLIT_PATTERN)).cast("long")
