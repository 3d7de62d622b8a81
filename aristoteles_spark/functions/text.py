"""Text-analysis column expressions: tokenization, portable hashing,
shingles, quality metrics, language-ID heuristic, fingerprints.

All pure Catalyst expressions (higher-order array functions — JVM-side,
codegen'd, zero Python). The hash primitive is md5-based rather than
Murmur3 so every function has a bit-identical ANSI-SQL transliteration for
oracle checking (Spark's F.hash is Murmur3 with Spark-specific seeding;
duckdb's hash() is different again — md5 is the portable common ground).

At 100 TB these expressions run inside whole-stage codegen over the scan;
no shuffle is introduced until a downstream groupBy/join needs one.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# tiny stopword profiles for the language-ID heuristic (public common words)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "dans"],
    "es": ["el", "la", "los", "y", "es", "no", "una", "en"],
}

STOPWORDS_EN = LANG_MARKERS["en"]


def tokens(col: Column | str) -> Column:
    """Lowercased alphanumeric tokens; empty strings filtered out."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda x: x != "")


def distinct_tokens(col: Column | str) -> Column:
    return F.array_distinct(tokens(col))


def h32(col: Column, seed: int | Column = 0) -> Column:
    """Portable 32-bit hash: first 8 hex digits of md5("{seed}:{s}").

    Identical in duckdb as
    ``CAST(concat('0x', substr(md5(concat(seed, ':', s)), 1, 8)) AS BIGINT)``.
    """
    seed_col = F.lit(str(seed)) if isinstance(seed, int) else seed.cast("string")
    payload = F.concat(seed_col, F.lit(":"), col)
    return F.conv(F.substring(F.md5(payload.cast("binary")), 1, 8), 16, 10).cast("long")


# Multiply-shift permutation family for MinHash: h_i(x) = (A_i*x + B_i)
# mod 2^32 over the single md5-derived base hash. One md5 per token total
# (vs num_hashes md5s) — the md5 is the expensive part. A_i odd < 2^31
# keeps A_i * h < 2^63 (no signed-64 overflow); constants are fixed
# literals so the SQL oracle reproduces them exactly.
_MINHASH_MASK = (1 << 32) - 1


def _minhash_constants(num_hashes: int) -> list[tuple[int, int]]:
    # deterministic LCG-generated (A, B) pairs; A forced odd and < 2^31
    out = []
    x = 0x9E3779B9
    for _ in range(num_hashes):
        x = (x * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
        a = ((x >> 33) | 1) & 0x7FFFFFFF
        x = (x * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
        b = (x >> 32) & 0xFFFFFFFF
        out.append((a, b))
    return out


def minhash_signature(token_col: Column, num_hashes: int = 16, hash_fn=None) -> Column:
    """MinHash signature: array of min over tokens of (A_i*h32(tok)+B_i)
    mod 2^32, for i in [0, num_hashes).

    In-row array aggregation — the signature computation itself needs NO
    shuffle; only the LSH band join downstream does. ``hash_fn`` swaps the
    per-token base hash (default md5-derived h32) for e.g. a precomputed
    dictionary lookup — md5 inside an interpreted higher-order lambda is
    the dominant cost at small vocabularies.
    """
    expensive_base = hash_fn is None
    hash_fn = hash_fn or h32
    base = F.transform(token_col, lambda t: hash_fn(t))

    def perm(a: int, b: int):
        # closure factory: pyspark introspects lambda arity, so default-arg
        # binding would be miscounted as a 3-arg higher-order lambda
        return lambda h: (F.lit(a) * h + F.lit(b)).bitwiseAND(F.lit(_MINHASH_MASK))

    def build(bv: Column) -> Column:
        return F.array(
            *[
                F.array_min(F.transform(bv, perm(a, b)))
                for a, b in _minhash_constants(num_hashes)
            ]
        )

    if not expensive_base:
        # cheap base hash (small-vocab dictionary lookup): keep the
        # flat array-of-folds form. It re-evaluates `base` once per
        # permutation, but the lookups cost ~nothing and the OPEN form
        # lets the optimizer extract single elements / band slices
        # without forcing full-signature evaluation — wrapping this
        # path measured nd1 5.4s -> 8.6s and xm1 4.7s -> 7.7s.
        return build(base)
    # md5 base hash: single-evaluation wrap (round 7). Referencing
    # `base` in all num_hashes permutation folds re-evaluated the md5
    # transform once PER PERMUTATION in the interpreted HOF — 16x the
    # md5 cost, the dominant term wherever the small-vocab dictionary
    # is off (the streaming probe's batch side, large-vocab corpora).
    # The lambda binding via a one-element-array transform guarantees
    # one evaluation per row; measured 7x on this path (2.65s -> 0.38s
    # per sf0.1 single-core pass), values bit-identical.
    return F.get(F.transform(F.array(base), build), 0)


def simhash32(token_col: Column, hash_fn=None) -> Column:
    """32-bit SimHash over distinct tokens.

    bit j of the result = 1 iff sum over tokens of (+1 if bit j of
    h32(token) set else -1) > 0. Computed with zip_with/aggregate in-row;
    integer sums are order-independent so the relational (explode-based)
    oracle SQL produces identical values.
    """
    # hash each token ONCE (md5 is the expensive part), then fold cheap
    # bit ops over the hash array; j unrolled at plan-build time because
    # F.shiftright needs literal shift amounts, and unrolling keeps
    # everything inside codegen
    hash_fn = hash_fn or h32
    hashes = F.transform(token_col, lambda t: hash_fn(t))
    bits = lambda h: F.array(
        *[
            (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
            for j in range(32)
        ]
    )
    zero = F.array(*[F.lit(0).cast("long") for _ in range(32)])
    sums = F.aggregate(hashes, zero, lambda acc, h: F.zip_with(acc, bits(h), lambda a, b: a + b))
    weights = F.array(*[F.lit(1 << j).cast("long") for j in range(32)])
    return F.aggregate(
        F.zip_with(sums, weights, lambda s, w: F.when(s > 0, w).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, "[a-zA-Z0-9 ]", "")
    return F.when(F.length(c) > 0, F.length(stripped) / F.length(c)).otherwise(F.lit(0.0))


def stopword_ratio(token_col: Column, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(s) for s in (stopwords or STOPWORDS_EN)])
    n = F.size(token_col)
    hits = F.size(F.filter(token_col, lambda t: F.array_contains(sw, t)))
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def mean_token_len(token_col: Column) -> Column:
    n = F.size(token_col)
    total = F.aggregate(
        token_col, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t).cast("long")
    )
    return F.when(n > 0, total / n).otherwise(F.lit(0.0))


def quality_score(
    text_col: Column | str,
    toks: Column | None = None,
    punct: Column | None = None,
    sw_ratio: Column | None = None,
) -> Column:
    """Composite quality heuristic in [0, 1]: long-enough, low punctuation,
    some stopwords, sane mean word length. Deterministic double arithmetic.

    Pass precomputed ``toks``/``punct``/``sw_ratio`` columns when the
    caller already materializes them in an earlier projection — the
    tokenizer regex and the stopword membership scan are the expensive
    parts, and recomputing them inside this composite doubles the
    per-row cost (measured ~2x on the quality query)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(c) if toks is None else toks
    len_score = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    pr = punct_ratio(c) if punct is None else punct
    punct_score = F.lit(1.0) - F.least(pr * 5, F.lit(1.0))
    sw = stopword_ratio(toks) if sw_ratio is None else sw_ratio
    sw_score = F.least(sw * 4, F.lit(1.0))
    mlen = mean_token_len(toks)
    mlen_score = F.when((mlen >= 3.0) & (mlen <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return (len_score + punct_score + sw_score + mlen_score) / 4


def langid_scores(token_col: Column) -> dict[str, Column]:
    """Distinct-marker hit count per language profile."""
    out = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.array_intersect(F.array_distinct(token_col), arr))
    return out


def langid_predict(token_col: Column) -> Column:
    """argmax language with deterministic tie-break (profile order);
    'und' when no marker hits at all."""
    scores = langid_scores(token_col)
    langs = list(scores)
    best = scores[langs[0]]
    for lang in langs[1:]:
        best = F.greatest(best, scores[lang])
    pred = F.lit("und")
    for lang in reversed(langs):  # earlier profiles win ties
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best > 0, pred).otherwise(F.lit("und"))


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized token stream — the
    canonical 'same content modulo whitespace/punct/case' key."""
    return F.md5(F.array_join(tokens(col), " ").cast("binary"))
