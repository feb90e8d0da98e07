"""Text analysis operators: tokenization stats, quality, language-ID,
fingerprints.

Everything here is a pure column expression over ``pyspark.sql.functions``
— no Python in the row path, so these run inside whole-stage codegen and
scale linearly with input splits (no shuffle at all: map-only).

Reference analog: the reference has no text operators (ChunJun moves rows,
it does not analyze them) — these extend the engine to the data-curation
workload its CDC tables feed, per the training-data-pipeline mandate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# token = maximal run of non-whitespace; applied to trimmed text
_WS = r"\s+"

# BPE-style pre-tokenizer (GPT-2 family, ASCII simplification, no
# lookaheads so the same pattern runs in Java regex AND RE2/DuckDB):
# contractions | space?+letters | space?+digits | space?+punct-run.
# Whitespace itself is not a token.
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"

# simple per-language stopword regexes for the heuristic language scorer;
# word boundaries keep partial matches out (RE2/Java-regex compatible)
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|is|a)\b",
    "es": r"\b(el|la|de|que|los|una)\b",
    "fr": r"\b(le|la|les|des|une|est)\b",
    "de": r"\b(der|die|das|und|ein|ist)\b",
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed text (empty text → empty array)."""
    t = F.trim(col)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, _WS)
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_token_count(col: Column) -> Column:
    """LLM-ish token count: number of BPE pre-tokenizer matches. A cheap,
    deterministic proxy for tokenizer cost (real BPE merges only split
    these pre-tokens further by a bounded factor). Pure codegen regex —
    no Python, no shuffle."""
    return F.regexp_count(col, F.lit(BPE_PRETOKEN_RE))


def char_count(col: Column) -> Column:
    return F.length(col)


def avg_token_len(col: Column) -> Column:
    """Mean token length, NULL for empty text."""
    toks = tokens(col)
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(n > 0, total.cast("double") / n.cast("double"))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    n_punct = F.length(F.regexp_replace(col, r"[^.,;:!?]", ""))
    return F.when(
        F.length(col) > 0, n_punct.cast("double") / F.length(col).cast("double")
    ).otherwise(F.lit(0.0))


def stopword_ratio(col: Column, marker_regex: str | None = None) -> Column:
    """Fraction of tokens that are (English, by default) stopwords."""
    pat = marker_regex or LANG_MARKERS["en"]
    n_stop = F.size(F.regexp_extract_all(col, F.lit(pat), 0))
    n_tok = token_count(col)
    return F.when(n_tok > 0, n_stop.cast("double") / n_tok.cast("double")).otherwise(
        F.lit(0.0)
    )


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: rewards normal-length tokens and
    some stopword mass, penalizes punctuation soup. Deterministic and
    expressible in ANSI SQL for oracle checks."""
    alen = F.coalesce(avg_token_len(col), F.lit(0.0))
    len_ok = F.when((alen >= 2.0) & (alen <= 12.0), F.lit(0.5)).otherwise(F.lit(0.0))
    stop_ok = F.least(stopword_ratio(col) * 2.0, F.lit(0.3))
    punct_pen = F.least(punct_ratio(col) * 2.0, F.lit(0.2))
    return len_ok + stop_ok + (F.lit(0.2) - punct_pen)


def lang_scores(col: Column) -> dict[str, Column]:
    """Marker-hit count per candidate language."""
    return {
        lang: F.size(F.regexp_extract_all(col, F.lit(pat), 0))
        for lang, pat in LANG_MARKERS.items()
    }


def lang_id(col: Column, default: str = "und") -> Column:
    """Argmax language by marker hits; deterministic tie-break by language
    code order; ``und`` when no marker fires."""
    scores = lang_scores(col)
    pairs = F.array(
        *[
            F.struct(s.alias("score"), F.lit(lang).alias("lang"))
            for lang, s in sorted(scores.items())
        ]
    )
    # max by (score, reversed-lang) so ties pick the alphabetically first
    best = F.aggregate(
        pairs,
        F.struct(F.lit(-1).alias("score"), F.lit("").alias("lang")),
        lambda acc, x: F.when(x["score"] > acc["score"], x).otherwise(acc),
    )
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit(default))


def normalized(col: Column) -> Column:
    """Canonical text form for fingerprinting: lowercase, strip all
    non-[a-z0-9 ] chars, collapse whitespace, trim."""
    x = F.lower(col)
    x = F.regexp_replace(x, r"[^a-z0-9 ]", " ")
    x = F.regexp_replace(x, r" +", " ")
    return F.trim(x)


def fingerprint(col: Column) -> Column:
    """128-bit content fingerprint of the normalized text (md5 hex).
    Near-identical documents (case/punctuation/whitespace variants)
    collapse to one fingerprint — the cheap first dedup pass."""
    return F.md5(normalized(col))


# ---------------------------------------------------------------- repetition

def split_lines(col: Column) -> Column:
    """Split text into lines on ``\\n`` (empty lines kept, like Gopher's
    line accounting). Map-only native expr."""
    return F.split(col, r"\n")


def split_paragraphs(col: Column) -> Column:
    """Split text into paragraphs on blank-line boundaries (``\\n\\n``)."""
    return F.split(col, r"\n\n")


def _dup_frac(arr: Column) -> Column:
    """Fraction of array elements that are repeats of an earlier element:
    ``(n - n_distinct) / n``, 0.0 for empty arrays. Per-row expression —
    no shuffle, no explode."""
    n = F.size(arr)
    return F.when(
        n > 0,
        (n - F.size(F.array_distinct(arr))).cast("double") / n.cast("double"),
    ).otherwise(F.lit(0.0))


def dup_line_frac(col: Column) -> Column:
    """Gopher-style duplicate-line fraction of a document."""
    return _dup_frac(split_lines(col))


def dup_para_frac(col: Column) -> Column:
    """Gopher-style duplicate-paragraph fraction of a document."""
    return _dup_frac(split_paragraphs(col))


def dup_token_frac(col: Column) -> Column:
    """Fraction of tokens that are repeats — high values flag boilerplate
    / keyword-stuffed documents (Gopher repetition filter family)."""
    return _dup_frac(tokens(col))


# ---------------------------------------------------------------- redaction

# Ordered (pattern, replacement) pairs for code/doc secret + PII scrubbing.
# RE2/Java-regex compatible (no lookaround, no backrefs); applied in order,
# so earlier (more specific) patterns win over the generic catch-all.
# Reference analog: ChunJun has no redaction — this serves the
# training-data-curation mandate (secrets must not reach the corpus).
SECRET_PATTERNS: list[tuple[str, str]] = [
    # AWS access key id
    (r"AKIA[0-9A-Z]{16}", "<AWS_KEY>"),
    # email address
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # IPv4 literal
    (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    # long hex blob (api tokens, sha-like secrets pasted in code)
    (r"\b[0-9a-fA-F]{32,}\b", "<HEX>"),
    # generic key=value style assignment of a credential-named variable
    (r"(?i)(api_?key|secret|token|passwd|password)\s*[=:]\s*[^\s<]+",
     "$1=<SECRET>"),
]

_MARKER_RE = r"<(AWS_KEY|EMAIL|IP|HEX|SECRET)>"


def redact_secrets(col: Column) -> Column:
    """Replace secrets/PII with typed markers. Chained native
    ``regexp_replace`` — whole-stage codegen, no Python in the row path."""
    out = col
    for pat, rep in SECRET_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return out


def secret_count(col: Column) -> Column:
    """Number of redaction markers that ``redact_secrets`` inserted
    (counted on the redacted text so overlapping patterns aren't
    double-counted)."""
    return F.regexp_count(redact_secrets(col), F.lit(_MARKER_RE))


def rolling_fingerprints_from_tokens(
    toks: Column, window_tokens: int = 8, fingerprint: str = "xxhash64"
) -> Column:
    """Window fingerprints over an ALREADY-MATERIALIZED token array
    column.  ``toks`` must be a plain attribute reference (stage
    ``split(normalized(text), ' ')`` in its own projection first):
    interpreted HOF lambdas re-evaluate captured EXPRESSIONS once per
    element, so capturing the split-normalize tree here costs
    O(windows × full-text regex) per row — measured 10× on the winnowing
    entry (10.6 s → 1.0 s at sf0.1).  Captured attribute references just
    read the row value and are cheap."""
    n = F.size(toks)
    n_windows = F.greatest(n - F.lit(window_tokens - 1), F.lit(0))
    idx = F.sequence(F.lit(1), n_windows)
    if fingerprint == "md5":
        # oracle-parity mode: hex-string fingerprint DuckDB reproduces
        return F.when(n_windows > 0, F.transform(
            idx,
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, window_tokens))),
        )).otherwise(F.array().cast("array<string>"))
    return F.when(n_windows > 0, F.transform(
        idx,
        lambda i: F.xxhash64(
            F.concat_ws(" ", F.slice(toks, i, window_tokens))
        ),
    )).otherwise(F.array().cast("array<bigint>"))


def rolling_fingerprints(col: Column, window_tokens: int = 8) -> Column:
    """Array of window fingerprints: hash of each ``window_tokens``-token
    sliding window over the normalized text (winnowing-style document
    fingerprinting). Native exprs: transform over a sequence of offsets.

    Column-level convenience for small frames/tests.  In a hot path use
    :func:`winnow_fingerprints` (or stage the token array yourself and
    call :func:`rolling_fingerprints_from_tokens`) — this form captures
    the tokenize tree inside the lambda and re-tokenizes per window."""
    return rolling_fingerprints_from_tokens(
        F.split(normalized(col), " "), window_tokens
    )


def winnow_fingerprints(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    window_tokens: int = 8,
    fingerprint: str = "xxhash64",
) -> "DataFrame":
    """(id, window_fp) exploded winnowing fingerprints, with the token
    array staged in its own projection so the window transform iterates
    over an attribute (see :func:`rolling_fingerprints_from_tokens`).
    CollapseProject leaves the staging projection alone (non-cheap
    expression, multiple references), so the split-normalize runs once
    per document."""
    staged = df.select(
        F.col(id_col),
        F.split(normalized(F.col(text_col)), " ").alias("_toks"),
    )
    return staged.select(
        F.col(id_col),
        F.explode(
            rolling_fingerprints_from_tokens(
                F.col("_toks"), window_tokens, fingerprint
            )
        ).alias("window_fp"),
    )


# ---------------------------------------------------------------- markup

# (pattern, replacement) chain for HTML/markup → plain text. Order
# matters: block elements whose CONTENT must die (script/style) first,
# then tags, then entities, then whitespace collapse. RE2/Java-safe
# (no lookaround); DuckDB parity needs the 'g' flag and the same order.
_MARKUP_STEPS: list[tuple[str, str]] = [
    # content-dropping blocks; two patterns, NOT one with a backreference
    # (DuckDB's RE2 oracle has no backrefs)
    (r"(?is)<script[^>]*>.*?</script>", " "),
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),                      # comments
    (r"<[^>]+>", " "),                             # any remaining tag
    (r"&nbsp;", " "),
    (r"&amp;", "&"),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"\s+", " "),                                 # collapse whitespace
]


def strip_markup(col: Column) -> Column:
    """HTML/markup → plain text: drop script/style bodies, comments and
    tags, decode the common entities, collapse whitespace. Chained native
    ``regexp_replace`` — whole-stage codegen, zero shuffle (the
    trafilatura-lite step every web-corpus pipeline runs before quality
    scoring; the reference has no text plane, this serves the
    training-data mandate)."""
    out = col
    for pat, rep in _MARKUP_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return F.trim(out)
