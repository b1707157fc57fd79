"""Per-document text functions — the webtext analog of the reference's
per-item map operators (SURVEY.md §2.2).

Everything here is a JVM-side Column expression (whole-stage codegen) except
the HTML extraction ``_extract_text_pd``, a vectorized pandas function that
runs inside the fused signature UDF (``make_packed_signature_udf``).
Reference analogs cited per function.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# M1: HTML -> text extraction (reference: decode_image,
# /root/reference/modules/feature_extraction.py:41-51).  Must be byte-stable
# per url — the per-row invariant of BASELINE.json.
# ---------------------------------------------------------------------------

_TITLE_RE = r"<title>(.*?)</title>"
_PARA_RE = r"<p>(.*?)</p>"


def _extract_text_pd(html: pd.Series) -> pd.Series:
    """Deterministic extraction: title + one line per <p>, joined by '\\n'.

    Vectorized with pandas C-level str ops; no per-row Python function calls.
    The rule is intentionally exact (no entity decoding, no normalization) so
    the output is byte-identical across runs/partitionings.
    """
    # .str.decode / .str.join are the vectorized forms (no python lambda per
    # row); non-bytes elements (already-str or None) decode to NaN and are
    # backfilled from the raw series
    s = html.str.decode("utf-8", errors="replace")
    if s.isna().any():
        s = s.fillna(html.where(html.notna(), "").astype(str))
    title = s.str.extract(_TITLE_RE, expand=False).fillna("")
    paras = s.str.findall(_PARA_RE).str.join("\n")
    out = title.str.cat(paras, sep="\n")
    # no title and no paras -> empty text, never null
    return out.str.strip("\n").fillna("")


# ---------------------------------------------------------------------------
# Shared token expression: split on single spaces, drop empties.  This exact
# definition is mirrored in the DuckDB oracles
# (list_filter(string_split(text,' '), x -> x <> '')).
# ---------------------------------------------------------------------------

def tokens_expr(text: Column) -> Column:
    return F.filter(F.split(text, " "), lambda t: t != F.lit(""))


def word_ngrams_window_expr(toks: Column, n: int) -> Column:
    """Every ``n``-token window of a token array, space-joined — THE shared
    word-n-gram formula (decontamination, n-gram Jaccard, repetition stats,
    boilerplate mining all use this one expression; the DuckDB oracles
    mirror it).  Callers guard ``size(toks) >= n`` themselves: below that
    the sequence bound is negative (descending = invalid)."""
    return F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )


# ---------------------------------------------------------------------------
# M8: quality score (reference: Laplacian-variance detail score capped at 100,
# /root/reference/modules/deduplication.py:1575-1609).  Webtext analog:
# length + alphanumeric density + lexical diversity, capped per component so
# the total is in [0, 100].  Pure column expressions — codegen'd, no UDF.
# ---------------------------------------------------------------------------

def quality_parts_expr(text: Column, toks: Column) -> Column:
    """Quality from a pre-materialized tokens column (see ``with_quality``)."""
    n_chars = F.length(text)
    n_toks = F.size(toks)
    alnum = F.length(F.regexp_replace(text, "[^a-z0-9]", ""))
    length_score = F.least(F.lit(50.0), n_chars.cast("double") / F.lit(10.0))
    alnum_ratio = F.when(n_chars > 0, alnum.cast("double") / n_chars.cast("double")).otherwise(F.lit(0.0))
    uniq_ratio = F.when(
        n_toks > 0, F.size(F.array_distinct(toks)).cast("double") / n_toks.cast("double")
    ).otherwise(F.lit(0.0))
    return length_score + alnum_ratio * F.lit(25.0) + uniq_ratio * F.lit(25.0)


def quality_expr(text: Column) -> Column:
    """Single-expression quality (convenience; re-evaluates the token split
    per reference — prefer ``with_quality`` in hot paths)."""
    return quality_parts_expr(text, tokens_expr(text))


def with_quality(df):
    """Adds ``quality`` from ``text``.  Two-projection quality: tokens
    materialize as their own column so Catalyst's CollapseProject does NOT
    inline the split into every consumer (multi-use, non-cheap alias —
    measured 2-4x faster than the inline expr).
    """
    toksed = df.withColumn("__toks", tokens_expr(F.col("text")))
    out = toksed.withColumn(
        "quality", quality_parts_expr(F.col("text"), F.col("__toks"))
    )
    return out.drop("__toks")


# ---------------------------------------------------------------------------
# Language ID: marker-stopword counting with a deterministic argmax
# (tie-break by fixed language order, zero markers -> 'und').  Column-only.
# ---------------------------------------------------------------------------

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "fr": ("le", "la", "les", "et", "est", "une"),
    "es": ("el", "los", "las", "es", "una", "y"),
}
LANG_ORDER = ("en", "de", "fr", "es")


def lang_scores_expr(text: Column) -> dict[str, Column]:
    toks = tokens_expr(text)
    out = {}
    for lang in LANG_ORDER:
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
    return out


def langid_expr(text: Column) -> Column:
    scores = lang_scores_expr(text)
    best = F.greatest(*[scores[lang] for lang in LANG_ORDER])
    expr = F.lit("und")
    # reversed so earlier languages win ties (en > de > fr > es)
    for lang in reversed(LANG_ORDER):
        expr = F.when((best > 0) & (scores[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# Token counting: whitespace tokens + a BPE-ish regex segmentation
# (letter runs / digit runs / single other chars).
# ---------------------------------------------------------------------------

BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def n_tokens_ws_expr(text: Column) -> Column:
    return F.size(tokens_expr(text))


def n_tokens_bpe_expr(text: Column) -> Column:
    return F.regexp_count(text, F.lit(BPE_PATTERN))


# ---------------------------------------------------------------------------
# Document fingerprints: full sha256 (exact-dup key) + 60-bit md5-prefix
# compact fingerprint (joinable BIGINT).  Reference analog: the path-string
# identity + wavelet hash bytes (feature_cache keys).
# ---------------------------------------------------------------------------

def sha256_expr(text: Column) -> Column:
    return F.sha2(text.cast("binary"), 256)


def fp64_expr(text: Column) -> Column:
    return F.conv(F.substring(F.md5(text.cast("binary")), 1, 15), 16, 10).cast("long")


def is_test_path_expr(path_col):
    """M11: test-artifact path predicate as ONE Column expression.

    Reference analog: ``_is_test_image_path``
    (``/root/reference/modules/deduplication.py:761-774``) — which existed as
    three divergent copies; here it is a single codegen'd predicate usable in
    any filter/withColumn (same pattern list, case-insensitive).
    """
    patterns = [
        "test_image_", "fake_image_", "dummy_image_",
        "/tmp/", "\\tmp\\", "temp_", ".tmp",
    ]
    lower = F.lower(path_col)
    pred = F.lit(False)
    for p in patterns:
        pred = pred | lower.contains(p)
    return pred


# ---------------------------------------------------------------------------
# Web-pipeline hygiene ops: canonical-URL normalization and PII scrubbing.
# Both are pure codegen column expressions (no UDF): at 100 TB these run
# inside the scan's WholeStageCodegen span, so the dedup / redaction cost is
# the cost of reading the column.  Reference analog: the path-normalization
# the reference applies before using blob paths as identity keys
# (``/root/reference/modules/deduplication.py:761-774`` normalizes case and
# separators before the predicate) — generalized here to the URL identity
# rules every web-corpus dedup (CCNet / RefinedWeb-style) applies before
# exact dedup.
# ---------------------------------------------------------------------------

def canonical_url_expr(url: Column) -> Column:
    """Canonical form of a raw URL, as ONE column expression.

    Rules (the standard URL-dedup identity): lowercase; drop the scheme;
    drop a leading ``www.``; drop query string and fragment; drop trailing
    slashes.  Deliberately conservative — no path re-encoding, no tracking-
    param allowlists — so the same rule is trivially mirrored in ANSI SQL
    (the DuckDB oracle) and in any downstream system.
    """
    u = F.lower(url)
    u = F.regexp_replace(u, r"^(https?://)+", "")
    u = F.regexp_replace(u, r"^(www\.)+", "")
    u = F.regexp_replace(u, r"[?#].*$", "")
    return F.regexp_replace(u, r"/+$", "")


# PII patterns chosen for identical semantics under Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded repetition, \b word boundaries —
# no lookarounds or backrefs (RE2 has neither).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+1-[0-9]{3}-[0-9]{4}"
PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_counts_exprs(text: Column) -> dict[str, Column]:
    """Per-document PII hit counts (emails / phones / IPv4s) as codegen
    ``regexp_count`` expressions."""
    return {
        "n_emails": F.regexp_count(text, F.lit(PII_EMAIL_RE)),
        "n_phones": F.regexp_count(text, F.lit(PII_PHONE_RE)),
        "n_ips": F.regexp_count(text, F.lit(PII_IPV4_RE)),
    }


def redact_pii_expr(text: Column) -> Column:
    """Text with PII spans replaced by typed placeholder tokens — the
    scrub-before-training transform.  Order matters: emails first (an email
    can contain digits that would otherwise partially match the IP rule
    after phone redaction), then phones, then IPs; the oracle SQL applies
    the same order."""
    t = F.regexp_replace(text, PII_EMAIL_RE, "[EMAIL]")
    t = F.regexp_replace(t, PII_PHONE_RE, "[PHONE]")
    return F.regexp_replace(t, PII_IPV4_RE, "[IP]")


def url_domain_expr(url: Column) -> Column:
    """Registered domain of a URL as ONE codegen expression: strip scheme,
    strip path/query, then keep the last two dot-labels of the host
    (``blog.site3.com`` -> ``site3.com``).  Deliberately public-suffix-
    list-free — the two-label rule is the engine-portable approximation
    (the DuckDB oracle derives the domain independently from the synthetic
    doc_id rule, so this regex chain is genuinely checked); swap in a PSL
    broadcast join when co.uk-style suffixes matter."""
    host = F.regexp_replace(F.lower(url), r"^https?://", "")
    host = F.regexp_replace(host, r"[/?#].*$", "")
    return F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)


def hash_bucket_expr(key: Column) -> Column:
    """Deterministic [0, 1000) bucket from a key — the seed-free,
    partition-independent alternative to ``rand()`` for sampling: the same
    key lands in the same bucket on any engine (mirrored verbatim in the
    DuckDB oracle), so samples are reproducible and referentially stable
    across re-runs, resumes, and engines.  15 hex chars = 60 bits, so the
    modulo bias at 1000 buckets is negligible (<2^-50)."""
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast("long")
    return h % F.lit(1000)
