"""Text-analysis column functions for the LLM-data-pipeline operators.

All built from JVM-side `pyspark.sql.functions` (no Python in the hot
path). Determinism contract: tokenization/shingling/hashing formulas here
have exact DuckDB counterparts used by the oracle SQL in queries.py —
change one, change both.

MinHash uses a Carter-Wegman family h_i = h1 + i*h2 over two integer
hashes carved out of ONE md5 digest per shingle (md5 is available in both
engines; Spark's xxhash64/murmur aren't reproducible in the DuckDB
oracle). One digest serves every family member, so signature cost is one
md5 + k integer FMAs per shingle instead of k md5s, and min() compares
8-byte longs instead of 32-byte strings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import exprs as EX

# ---------------------------------------------------------------------------
# tokenization / shingling
# ---------------------------------------------------------------------------


def tokens(text: Column) -> Column:
    """Whitespace tokens of the lowercased, trimmed text."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Overlapping word n-grams (space-joined). Empty when < n tokens.

    `toks` is let-bound (exprs.bind) before the position lambda touches
    it: a raw expression referenced inside a higher-order-function lambda
    is re-evaluated PER ELEMENT by the interpreter, which turned this
    into an O(tokens²) re-tokenization per document. Binding makes
    element_at hit a materialized array.
    """

    def mk(t: Column) -> Column:
        joined = F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + j) for j in range(n)]
            ),
        )
        # sequence(1, k) with k < 1 produces a DESCENDING sequence in
        # Spark — guard short docs explicitly.
        return F.when(F.size(t) >= n, joined).otherwise(
            F.array().cast("array<string>")
        )

    return EX.bind(toks, mk)


# BPE-ish token pattern: letter runs, digit runs, single non-space symbols.
BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def bpe_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), 0))


# ---------------------------------------------------------------------------
# fingerprints / hashing
# ---------------------------------------------------------------------------


def normalized(text: Column) -> Column:
    """Canonical form for exact-dup detection: lowercase, collapsed
    whitespace, trimmed."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def content_fingerprint(text: Column) -> Column:
    """md5 of the normalized text — the exact-dedup key."""
    return F.md5(normalized(text))


def minhash_base_hashes(shingle: Column) -> tuple[Column, Column]:
    """Two independent integer hashes from ONE md5: first 15 hex chars
    (60 bits) and chars 17-29 (52 bits). The Carter-Wegman family
    h_i = h1 + i*h2 derives any number of MinHash members from these —
    one md5 per shingle total, instead of one per (shingle, seed).

    Bit-widths are chosen so h1 + i*h2 never overflows a signed 64-bit
    int for i ≤ ~2000, keeping Spark and the SQL oracle exactly equal.
    """
    digest = F.md5(shingle)
    h1 = F.conv(F.substring(digest, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(digest, 17, 13), 16, 10).cast("long")
    return h1, h2


# ---------------------------------------------------------------------------
# language ID / quality (heuristic, deterministic)
# ---------------------------------------------------------------------------

STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "a", "is", "that", "it", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "es", "los"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "zu"],
    "fr": ["le", "les", "des", "et", "est", "dans", "une", "du", "au", "pour"],
}


def lang_scores(toks: Column) -> dict[str, Column]:
    """Per-language score = #distinct stopwords of that language present."""
    return {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in STOPWORDS.items()
    }


def lang_id(toks: Column) -> Column:
    """Argmax language with deterministic tiebreak (alphabetical), 'und'
    when nothing scores."""
    scores = lang_scores(toks)
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # alphabetical order, reversed fold so earlier names win ties
    for lang in sorted(scores, reverse=True):
        out = F.when(scores[lang] == best, F.lit(lang)).otherwise(out)
    return F.when(best > 0, out).otherwise(F.lit("und"))


def quality_checks(text: Column, toks: Column) -> dict[str, Column]:
    """Deterministic quality signals (the Gopher-rules shape: token count
    bounds, word length, symbol ratio, stopword presence)."""
    n_tok = F.size(toks)
    n_chars = F.length(text)
    alpha_chars = F.length(F.regexp_replace(text, r"[^a-zA-Z]", ""))
    en_stop_hits = F.size(
        F.filter(
            toks,
            lambda t: t.isin(*[F.lit(w) for w in STOPWORDS["en"]]),
        )
    )
    return {
        "n_tokens": n_tok,
        "n_chars_txt": n_chars,
        "alpha_ratio": alpha_chars.cast("double") / n_chars.cast("double"),
        "mean_word_len": (n_chars - (n_tok - 1)).cast("double") / n_tok.cast("double"),
        "stopword_ratio": en_stop_hits.cast("double") / n_tok.cast("double"),
    }


def quality_score(text: Column, toks: Column) -> Column:
    """0-4 integer score: one point per passed check (integer-exact)."""
    c = quality_checks(text, toks)
    checks = [
        (c["n_tokens"] >= 10) & (c["n_tokens"] <= 1000),
        c["alpha_ratio"] >= 0.6,
        (c["mean_word_len"] >= 2.0) & (c["mean_word_len"] <= 12.0),
        c["stopword_ratio"] > 0.0,
    ]
    total = F.lit(0)
    for chk in checks:
        total = total + F.when(chk, 1).otherwise(0)
    return total


# ---------------------------------------------------------------------------
# corpus-level statistics (DataFrame-in, DataFrame-out)
# ---------------------------------------------------------------------------


def token_rarity_scores(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 1_000_000,
):
    """Per-doc (n_tokens, rarity_sum) from corpus-wide token statistics —
    the unigram-LM quality-scoring core (CCNet shape) behind
    queries.text_token_rarity (oracle-checked).

    Per-token rarity is the exact integer floor(scale * total / cnt)
    (one correctly-rounded IEEE divide + floor — ln() would differ
    across engines in the last ULP), so per-doc sums are
    order-independent. The LM 'model' (freq) is vocab-sized; the apply
    step is a corpus × vocab equi-join on the token (AQE handles
    stopword skew), then one doc-keyed agg.
    """
    toks = docs.select(
        id_col, F.explode(tokens(F.col(text_col))).alias("tok")
    )
    # freq has THREE consumers (total, rarity, and transitively the apply
    # join); un-materialized, each one recomputes a full corpus
    # tokenization pass (no exchange/stage reuse across consumers, even
    # under AQE). Checkpointing the vocab-sized agg caps the operator at
    # the two unavoidable corpus passes: the freq build and the apply
    # join (toks itself is cheaper to re-derive than to materialize
    # exploded).
    freq = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    tot = freq.agg(F.sum("cnt").alias("total"))
    rarity = freq.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(
            F.lit(float(scale))
            * F.col("total").cast("double")
            / F.col("cnt").cast("double")
        )
        .cast("long")
        .alias("rarity"),
    )
    return (
        toks.join(rarity, "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("rarity").alias("rarity_sum"),
        )
    )
