"""Text-analysis column functions for the training-data pipeline layer.

Everything here is a **native Spark SQL expression** (JVM-side, inside
whole-stage codegen — no Python in the hot path), designed so the exact same
computation is expressible in ANSI/DuckDB SQL for the driver's oracle check.

The portable 32-bit hash primitive is ``h32(s) = int(md5(s)[:8], 16)`` —
``md5`` is bit-identical across Spark and DuckDB, which makes MinHash,
SimHash, LSH band keys and fingerprints fully oracle-checkable (unlike
``xxhash64``, whose seed differs between engines).

Reference context: the crawl engine (SURVEY.md §2) produces a corpus of
pages/cards; these operators are the post-crawl corpus-hygiene layer a
100 TB training-data pipeline needs (dedup, language ID, quality scoring,
token accounting).  They have no direct analog in
``/root/reference`` (the F# crawler stops at parsed cards); the nearest
relatives are its href dedup (``ParserPet911.fs:133``, `Seq.distinct`) and
known-id set ops (``NewCards.fs:50-65``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: modulus for permutation/rolling hashes.  All
# arithmetic stays far below 2^63 (h32 < 2^32, p < 2^31) — no overflow in
# either engine's int64.
HASH_PRIME = 2_147_483_647

# English/European stopwords that appear in the synthetic corpus + common web
# text; used by the quality score.  Keep SHORT and fixed — the oracle SQL
# must embed the same list.
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "on")

# MinHash permutation parameters: h_p(x) = (A[p]*h32(x) + B[p]) mod HASH_PRIME.
# One md5 per shingle, num_perm cheap integer permutations on top (classic
# universal-hash family).  Fixed odd multipliers < 2^20 keep A[p]*h32 < 2^52
# — exact in int64 (and in DuckDB's bigint) with no overflow.
MINHASH_A = (387709, 648391, 961747, 491527, 279431, 822433, 591973, 123457,
             712717, 935339, 350377, 568987, 442019, 673201, 249989, 876257)
MINHASH_B = (98491, 273127, 552581, 101839, 794071, 318211, 63809, 921577,
             410587, 156007, 682729, 207401, 873961, 529510, 390097, 44687)


def h32(col: Column) -> Column:
    """Portable 32-bit hash: first 8 hex chars of md5, as int64.

    Spark: ``conv(substring(md5(s),1,8),16,10)``; DuckDB oracle:
    ``('0x' || substr(md5(s),1,8))::bigint`` — verified bit-identical.
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def tokens(text: Column) -> Column:
    """Whitespace tokenization (lowercased), empty strings dropped.

    ``split`` on ``\\s+`` after trim; the leading-empty-token edge case is
    avoided by trimming first (same semantics as DuckDB
    ``string_split_regex(trim(lower(s)), '\\s+')``).
    """
    return F.split(F.trim(F.lower(text)), r"\s+")


def distinct_tokens(text: Column) -> Column:
    """Token *set* (order not guaranteed — use only under set-aggregates)."""
    return F.array_distinct(tokens(text))


def token_count(text: Column) -> Column:
    """Whitespace token count — the cheap length-based token accounting."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish sub-word accounting without a vocab: counts word pieces,
    digits runs and punctuation marks separately, approximating how a BPE
    tokenizer fragments web text.  Pure regexp counts → identical in DuckDB
    (``len(regexp_extract_all(...))``).
    """
    words = F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]+"), 0))
    # every 4 chars beyond the first 4 of a word ≈ one extra merge piece
    long_extra = F.aggregate(
        F.regexp_extract_all(text, F.lit(r"[A-Za-z]{5,}"), 0),
        F.lit(0),
        lambda acc, w: acc + F.floor((F.length(w) - 1) / 4).cast("int"),
    )
    digits = F.size(F.regexp_extract_all(text, F.lit(r"[0-9]"), 0))
    punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\sA-Za-z0-9]"), 0))
    return (words + long_extra + digits + punct).cast("long")


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles as strings ('w1 w2 w3'), for MinHash.

    Built with ``sequence`` + ``transform`` + ``slice`` + ``array_join`` —
    all codegen'd.  A document with fewer than k tokens yields its full
    token string as the single shingle (so short docs still hash).
    """
    toks = tokens(text)
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(starts, lambda i: F.array_join(F.slice(toks, i, k), " "))
    )


def simhash32(text: Column) -> Column:
    """32-bit SimHash over distinct whitespace tokens.

    bit b of the signature = majority vote (>=0 with -1/+1 weights) of bit b
    across all token h32 values.  Expressed as a per-row ``aggregate`` over
    the token array — no shuffle, no UDF.
    """
    toks = distinct_tokens(text)
    hashes = F.transform(toks, h32)

    def vote_for_bit(b: int) -> Column:
        def merge(acc: Column, h: Column) -> Column:
            is_set = F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1
            return acc + F.when(is_set, F.lit(1)).otherwise(F.lit(-1))

        return F.aggregate(hashes, F.lit(0), merge)

    bits = []
    for b in range(32):
        vote = vote_for_bit(b)
        bits.append(F.when(vote >= 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0)))
    out = bits[0]
    for c in bits[1:]:
        out = out + c
    return out


def rolling_fingerprint(text: Column, base: int = 131) -> Column:
    """Polynomial rolling hash of the token stream mod 2^31-1.

    fp = sum_i( h32(tok_i) * base^(n-1-i) ) mod p, computed left-to-right as
    ``acc = (acc*base + h32(tok)) % p`` — a document fingerprint that is
    order-sensitive (unlike the minhash set signature).  DuckDB oracle:
    ``list_reduce(list_transform(tokens, h32), (a,x) -> (a*131+x) % p)``.
    """
    return F.aggregate(
        tokens(text),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * base + h32(t)) % HASH_PRIME,
    )


# --------------------------------------------------------------------------
# Language ID — character n-gram / marker heuristic.
#
# The synthetic `documents` table carries a ground-truth `lang` column
# ('en','de','es','fr','zh'); on real web text this heuristic layer is the
# first-pass filter before a proper classifier.  Rules (checked in order):
#    1. CJK codepoints present            → 'zh'
#   2. Cyrillic codepoints present       → 'ru'
#   3. marker words for de/es/fr         → that language (first match wins)
#   4. default                           → 'en'
# All ``rlike``/CASE — trivially mirrored in the oracle SQL.
# --------------------------------------------------------------------------
_DE = r"(^|\s)(der|die|das|und|nicht|ein|ist)(\s|$)"
_ES = r"(^|\s)(el|la|los|las|que|es|una|del)(\s|$)"
_FR = r"(^|\s)(le|les|des|est|une|dans|avec)(\s|$)"


def lang_id(text: Column) -> Column:
    low = F.lower(text)
    return (
        F.when(low.rlike(r"[一-鿿]"), F.lit("zh"))
        .when(low.rlike(r"[Ѐ-ӿ]"), F.lit("ru"))
        .when(low.rlike(_DE), F.lit("de"))
        .when(low.rlike(_ES), F.lit("es"))
        .when(low.rlike(_FR), F.lit("fr"))
        .otherwise(F.lit("en"))
    )


def quality_score(text: Column) -> Column:
    """Web-text quality heuristic in [0,1]: length band + alpha ratio +
    stopword presence + punctuation sanity.  Deterministic arithmetic only.

    score = 0.25*len_ok + 0.25*alpha_ratio + 0.25*stop_ratio_capped
          + 0.25*(1 - punct_ratio_capped)
    """
    n = F.length(text).cast("double")
    len_ok = F.when((n >= 100) & (n <= 20000), F.lit(1.0)).otherwise(
        F.when(n < 100, n / 100.0).otherwise(F.lit(20000.0) / n)
    )
    alpha = F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]"), 0)).cast("double")
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    toks = tokens(text)
    ntok = F.size(toks).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    nstop = F.size(F.array_intersect(F.array_distinct(toks), stop_arr)).cast("double")
    stop_ratio = F.least(nstop / F.lit(float(len(STOPWORDS))), F.lit(1.0))
    punct = F.size(F.regexp_extract_all(text, F.lit(r"[^\sA-Za-z0-9]"), 0)).cast("double")
    punct_ratio = F.least(F.when(n > 0, punct / n).otherwise(F.lit(1.0)), F.lit(1.0))
    return F.round(
        0.25 * len_ok + 0.25 * alpha_ratio + 0.25 * stop_ratio + 0.25 * (1.0 - punct_ratio),
        6,
    )


def script_fractions(text: Column) -> list:
    """Unicode-script composition signals — the gibberish/encoding-damage
    detector upstream of :func:`lang_id` (a page that is 40% Latin, 30%
    CJK, and 20% digits is scraped navigation or mojibake, not prose).
    Character classes are literal UTF-8 ranges (same trick as ``lang_id``)
    so the identical pattern strings run under Java regex and RE2/DuckDB.

    Returns a list of named Columns: n_chars plus latin/cyrillic/cjk/
    digit/space/other fractions of the character count, rounded to 6.
    """
    n = F.length(text).cast("double")

    def frac(pattern: str, name: str) -> Column:
        cnt = F.size(F.regexp_extract_all(text, F.lit(pattern), 0))
        return F.round(cnt.cast("double") / n, 6).alias(name)

    latin = frac("[A-Za-z]", "latin_frac")
    cyr = frac("[Ѐ-ӿ]", "cyrillic_frac")
    cjk = frac("[一-鿿]", "cjk_frac")
    digit = frac("[0-9]", "digit_frac")
    space = frac(r"\s", "space_frac")
    other = F.round(
        F.lit(1.0)
        - (
            F.size(F.regexp_extract_all(text, F.lit("[A-Za-z]"), 0))
            + F.size(F.regexp_extract_all(text, F.lit("[Ѐ-ӿ]"), 0))
            + F.size(F.regexp_extract_all(text, F.lit("[一-鿿]"), 0))
            + F.size(F.regexp_extract_all(text, F.lit("[0-9]"), 0))
            + F.size(F.regexp_extract_all(text, F.lit(r"\s"), 0))
        ).cast("double") / n,
        6,
    ).alias("other_frac")
    return [
        F.length(text).cast("long").alias("n_chars"),
        latin, cyr, cjk, digit, space, other,
    ]
