"""Text-analysis column functions for the training-data pipeline.

Beyond-reference additions (the reference only counts words/chars —
crawler/parser.py:257-266): language ID, quality scoring, token counting,
shingling, simhash, and winnowing fingerprints over the ``documents`` table.
Everything here is **built-in column expressions** (JVM-side, whole-stage
codegen) — zero Python UDFs — and every function has an exact ANSI-SQL
twin so the DuckDB oracle can verify it value-for-value.

Hash parity note: the engine's hot-path key is ``xxhash64`` (U20), but DuckDB
cannot reproduce Spark's xxhash64. Where oracle parity matters we use
``md5_long`` — the top 60 bits of MD5 as a BIGINT — which both engines
compute identically (verified in tests/test_text.py). 60 bits keeps every
derived shift (simhash bit index ≤ 59) inside signed-int64 range on both
engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish surface tokenizer: letter runs, digit runs, single punctuation.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
# word tokens for stopword / language scoring (corpus is lowercased first)
WORD_RE = r"[a-z]+"

SIMHASH_BITS = 60  # md5_long is 60 bits; keeps 1<<bit signed-safe in SQL too

# Small per-language stopword lists for the n-gram/stopword language
# heuristic. Deliberately tiny and frozen: the heuristic must be identically
# expressible in Spark and ANSI SQL.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "was", "for", "on",
           "with", "as", "by", "at", "it"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "fur", "auf",
           "ein", "eine", "nicht", "den", "im", "zu"],
    "fr": ["le", "la", "les", "des", "et", "est", "dans", "pour", "sur",
           "avec", "une", "pas", "du", "un", "que"],
    "es": ["el", "los", "las", "y", "es", "de", "en", "para", "con", "una",
           "por", "no", "se", "del", "un"],
}
LANG_ORDER = ["en", "de", "es", "fr"]  # deterministic tie-break order


def title_or_fallback(
    title: Column, h1: Column, default: str = "Untitled"
) -> Column:
    """U14 (crawler/parser.py:180-191): <title> else first <h1> else
    'Untitled' — over pre-extracted columns (no DOM in the engine)."""
    t_ = F.trim(title)
    h_ = F.trim(h1)
    return F.coalesce(
        F.when(t_.isNotNull() & (F.length(t_) > 0), t_),
        F.when(h_.isNotNull() & (F.length(h_) > 0), h_),
        F.lit(default),
    )


def meta_lookup(meta: Column, *keys: str) -> Column:
    """U15 (crawler/parser.py:193-215): first-present lookup over a
    pre-extracted meta map column (e.g. description or og:description)."""
    return F.coalesce(*[meta[k] for k in keys])


def link_text_fallback(text: Column, url: Column) -> Column:
    """U4 (crawler/link_extractor.py:60-79): anchor text, else the href."""
    t_ = F.trim(text)
    return F.when(t_.isNotNull() & (F.length(t_) > 0), t_).otherwise(url)


def clean_text(c: Column) -> Column:
    """U12 (crawler/parser.py:174-178, clean_content :217-223): strip each
    line, drop empty lines' extra whitespace, collapse ≥3 newlines to 2."""
    stripped = F.regexp_replace(
        F.regexp_replace(c, r"[ \t\r]*\n[ \t\r]*", "\n"), r"^[ \t\r]+|[ \t\r]+$", ""
    )
    return F.trim(F.regexp_replace(stripped, r"\n{3,}", "\n\n"))


def md5_long(c: Column) -> Column:
    """60-bit deterministic hash: first 15 hex chars of MD5 as BIGINT.

    SQL twin: ``CAST(('0x' || substr(md5(x),1,15)) AS BIGINT)`` (DuckDB).
    """
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def ws_token_count(c: Column) -> Column:
    """Whitespace token count (reference word_count, parser.py:257-266):
    0 for blank text, else number of ``\\s+``-separated pieces."""
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def py_ws_token_count(s: str | None) -> int | None:
    """Bit-exact Python twin of :func:`ws_token_count` for the oracle
    crawler. Mirrors the JVM semantics precisely: Spark ``trim`` strips
    ASCII spaces only, and Java ``\\s`` is the ASCII class
    ``[ \\t\\n\\x0B\\f\\r]`` — a Python ``str.strip()`` + ``re \\s`` twin
    would diverge on tabs-only strings and Unicode whitespace."""
    import re as _re

    if s is None:
        return None
    trimmed = s.strip(" ")
    if len(trimmed) == 0:
        return 0
    return len(_re.split(r"[ \t\n\x0b\f\r]+", trimmed))


def regex_token_count(c: Column) -> Column:
    """BPE-ish surface token count via TOKEN_RE (letters/digits/punct runs)."""
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_RE), F.lit(0)))


def words(c: Column) -> Column:
    """Lowercase word tokens (array<string>) for stopword/lang scoring."""
    return F.regexp_extract_all(F.lower(c), F.lit(WORD_RE), F.lit(0))


def word_bigrams(c: Column) -> Column:
    """Adjacent lowercase word bigrams (array<string>, space-joined, NOT
    distinct — repetition measurement needs multiplicities). Guarded like
    ``char_shingles``: Spark's ``sequence(1, 0)`` counts DOWN, so texts
    with <2 words must short-circuit to the empty array."""
    w = words(c)
    n = F.size(w)
    # zip_with over two slices, NOT transform(sequence, i -> element_at(w,
    # i)): element_at inside a lambda re-evaluates the regex tokenization
    # once per element (the project-collapse trap), while slice/zip_with
    # evaluate the array per ROW. Same output, order preserved.
    grams = F.zip_with(
        F.slice(w, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(w, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.when(n >= 2, grams).otherwise(F.array().cast("array<string>"))


def nonblank_lines(c: Column) -> Column:
    """Non-blank lines (array<string>, NOT distinct) for duplicate-line
    repetition signals (the Gopher §A.1.1 dup-line fraction).

    Splits on ``\\r?\\n``: crawled CRLF documents would otherwise leave a
    ``\\r`` on every line — visually blank lines count as non-blank (trim
    strips only spaces/tabs) and every blank line duplicates every other,
    inflating the dup-line fraction until clean docs get flagged."""
    return F.filter(F.split(c, r"\r?\n"), lambda l: F.length(F.trim(l)) > 0)


def char_shingles(c: Column, k: int = 5) -> Column:
    """Distinct character k-grams (array<string>); empty array if len < k.

    Guarded because Spark's ``sequence(1, 0)`` counts *down* — an unguarded
    expression would emit bogus shingles for short strings.
    """
    n = F.length(c)
    grams = F.transform(
        F.sequence(F.lit(1), n - k + 1), lambda i: F.substring(c, i, F.lit(k))
    )
    return F.when(n >= k, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_hashes(c: Column, k: int = 5) -> Column:
    """Distinct k-gram hashes (array<bigint>, md5_long for oracle parity)."""
    return F.transform(char_shingles(c, k), md5_long)


def stopword_count(tokens: Column, lang: str) -> Column:
    """Occurrences (not distinct) of the lang's stopwords in ``tokens``."""
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens, lambda t: F.array_contains(stops, t)))


def cjk_count(c: Column) -> Column:
    """Count of CJK ideographs — the zh signal (no stopword list applies)."""
    return F.size(
        F.regexp_extract_all(c, F.lit(r"[一-鿿]"), F.lit(0))
    )


def lang_id(c: Column) -> Column:
    """Heuristic language ID: CJK-ratio gate, else argmax stopword ratio
    over ``LANG_ORDER`` (ties → first in order), 'und' when no signal."""
    toks = words(c)
    scores = {lg: stopword_count(toks, lg) for lg in LANG_ORDER}
    best = F.greatest(*[scores[lg] for lg in LANG_ORDER])
    pred = F.lit("und")
    # build when-chain in reverse so earlier langs win ties
    for lg in reversed(LANG_ORDER):
        pred = F.when(
            (best > 0) & (scores[lg] == best), F.lit(lg)
        ).otherwise(pred)
    is_cjk = cjk_count(c) * 4 > F.length(c)  # >25% ideographs
    return F.when(is_cjk, F.lit("zh")).otherwise(pred)


def quality_features(c: Column) -> dict[str, Column]:
    """Deterministic quality signals; all ratios are exact-int divisions so
    Spark and the SQL oracle agree bit-for-bit."""
    n_chars = F.length(c)
    toks = F.regexp_extract_all(c, F.lit(TOKEN_RE), F.lit(0))
    n_tokens = F.size(toks)
    n_words = F.size(words(c))
    n_punct = F.size(
        F.regexp_extract_all(c, F.lit(r"[^A-Za-z0-9\s]"), F.lit(0))
    )
    n_digit = F.size(F.regexp_extract_all(c, F.lit(r"[0-9]"), F.lit(0)))
    n_stop = stopword_count(words(c), "en")
    denom_t = F.greatest(n_tokens, F.lit(1)).cast("double")
    denom_w = F.greatest(n_words, F.lit(1)).cast("double")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": n_punct.cast("double") / denom_t,
        "digit_ratio": n_digit.cast("double") / denom_t,
        "stopword_ratio": n_stop.cast("double") / denom_w,
    }


def quality_score(c: Column) -> Column:
    """Composite quality score in [0,1] (rounded to 4 dp for oracle parity):
    rewards reasonable length and stopword density, penalizes punctuation
    and digit soup. Frozen formula — the SQL oracle replicates it exactly."""
    f = quality_features(c)
    len_score = F.least(f["n_tokens"].cast("double") / 100.0, F.lit(1.0))
    stop_score = F.least(f["stopword_ratio"] * 5.0, F.lit(1.0))
    punct_pen = F.least(f["punct_ratio"] * 5.0, F.lit(1.0))
    digit_pen = F.least(f["digit_ratio"] * 5.0, F.lit(1.0))
    raw = (
        0.4 * len_score + 0.4 * stop_score
        + 0.2 * (1.0 - punct_pen) - 0.2 * digit_pen
    )
    return F.round(F.greatest(F.least(raw, F.lit(1.0)), F.lit(0.0)), 4)


def simhash_from_hashes(hashes: Column, *, bits: int = SIMHASH_BITS) -> Column:
    """SimHash sign-bit assembly from an array<bigint> feature-hash column.

    Bit i is set iff more than half the feature hashes have bit i set
    (equivalent to the classic +1/−1 counter being positive). Pure column
    expression (one ``filter`` pass per bit, Python-side loop unrolled into
    the plan — Spark's ``shiftright`` takes only literal shift amounts).
    Prefer :func:`web_crawler_spark.operators.textdedup.simhash_table` when
    hashing a whole corpus — the explode/aggregate form does one data pass.
    """
    n = F.size(hashes)

    def bit_set(i: int):
        # closure factory: a default-arg lambda would make the function
        # binary, and PySpark passes the array index to binary lambdas
        return lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1

    out = F.lit(0).cast("long")
    for i in range(bits):
        set_count = F.size(F.filter(hashes, bit_set(i)))
        out = out + F.when(set_count * 2 > n, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def simhash(c: Column, *, k: int = 5, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over distinct char-k-gram md5_long hashes.

    Shingles (not word tokens) are the feature set: corpora with a small
    shared vocabulary make word-set simhashes collide for unrelated docs,
    while char shingles capture ordering.
    """
    return simhash_from_hashes(shingle_hashes(c, k), bits=bits)


def _sliding_min(hashes: Column, w: int) -> Column:
    """O(n·log w) sliding-window minima via associative doubling: pairwise
    mins, then mins of mins at stride 2, 4, … — never a per-window slice
    (which is O(n·w) with an array copy per window). Requires w a power of
    two (``winnow_fingerprints`` checks it); window j's min lands at
    position j for j ≤ n−w+1."""
    acc = hashes
    span = 1
    n = F.size(hashes)
    while span < w:
        shifted = F.slice(acc, span + 1, F.greatest(n - span, F.lit(0)))
        # zip_with pads the shorter side with NULL; least() skips NULLs, so
        # trailing positions hold suffix minima (discarded by the final slice)
        acc = F.zip_with(acc, shifted, lambda a, b: F.least(a, b))
        span *= 2
    return acc


def winnow_fingerprints(c: Column, k: int = 8, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    distinct minima of each w-window over the rolling k-gram hash stream.
    Returns array<bigint>; empty when the text has fewer than k chars.
    ``w`` must be a power of two (the doubling sliding minimum)."""
    if w < 1 or w & (w - 1):
        raise ValueError(f"winnow window must be a power of two, got w={w}")
    n = F.length(c)
    grams = F.transform(
        F.sequence(F.lit(1), n - k + 1), lambda i: md5_long(F.substring(c, i, F.lit(k)))
    )
    hashes = F.when(n >= k, grams).otherwise(F.array().cast("array<bigint>"))
    n_h = F.size(hashes)
    window_mins = _sliding_min(hashes, w)
    mins = F.when(
        n_h >= w, F.slice(window_mins, 1, F.greatest(n_h - w + 1, F.lit(0)))
    ).otherwise(
        F.when(n_h > 0, F.array(F.array_min(hashes))).otherwise(hashes)
    )
    return F.array_distinct(mins)


# --- PII scrubbing (beyond-reference: pre-training corpus hygiene) -------
# Patterns are deliberately RE2-compatible (no backreferences, no
# lookaround) so the DuckDB oracle replays them verbatim. Java and RE2
# agree on greedy-quantifier results for these shapes.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+\d[\d\- ]{7,}\d"


def pii_redact(c: Column) -> Column:
    """PII scrub for training-data curation: redact emails, IPv4 addresses
    and international-format phone numbers with typed placeholder tokens,
    and count each category. The standard corpus-hygiene pass (e.g. the
    BigScience/ROOTS and RefinedWeb PII steps), expressed as pure column
    expressions — whole-stage-codegen'd, zero UDFs, linear scan at 100 TB.

    Replacement is SEQUENTIAL (email -> ip -> phone) and each count is
    taken on the text the pattern actually ran against, so the numbers are
    exactly reproducible by any engine replaying the same order (the IP
    pass cannot double-count digits inside an already-redacted email, and
    the phone pass never eats a redacted IP's digits).

    Returns a struct (clean_text, n_email, n_ip, n_phone).
    """
    n_email = F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), F.lit(0)))
    t1 = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    n_ip = F.size(F.regexp_extract_all(t1, F.lit(PII_IPV4_RE), F.lit(0)))
    t2 = F.regexp_replace(t1, PII_IPV4_RE, "<IP>")
    n_phone = F.size(F.regexp_extract_all(t2, F.lit(PII_PHONE_RE), F.lit(0)))
    t3 = F.regexp_replace(t2, PII_PHONE_RE, "<PHONE>")
    return F.struct(
        t3.alias("clean_text"),
        n_email.cast("long").alias("n_email"),
        n_ip.cast("long").alias("n_ip"),
        n_phone.cast("long").alias("n_phone"),
    )
