"""Text-analysis operators over a document table.

All hot-path operators are JVM-side built-in expressions (split/
transform/filter/aggregate lambdas) — no Python in the row path. The
one pandas_udf here (``lang_id_ngram``) demonstrates the Arrow-batched
escape hatch for logic that genuinely needs Python, and is declared
rows-only.

Scale: every operator is a narrow map over the documents table — no
shuffle at all until a downstream groupBy. At 100 TB these run at
parquet-scan speed.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

#: Tiny per-language marker vocabularies for the heuristic language IDer.
#: (The fixture's `text` is synthetic English-ish word soup with a `lang`
#: label column; the heuristic is deterministic regardless of accuracy.)
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "das"),
    "fr": ("le", "et", "les"),
    "es": ("el", "y", "los"),
}


#: Explicit whitespace class for tokenization — equal to RE2's ``\s``
#: (``[\t\n\f\r ]``), which the DuckDB oracles' ``string_split_regex``
#: uses, and a strict SUBSET of Java's ``\s`` (which adds vertical tab
#: \x0B).  Spelled out on the Spark side so both engines tokenize any
#: corpus identically — the r9 word_ngrams family migration
#: (functions/dedup.py), extended to this legacy helper family in r10
#: (the last engine-``\s`` sites in declared queries).
WS_CLASS = r"[ \t\n\r\f]+"
#: The same class spelled for embedding inside a SQL string literal.
WS_CLASS_SQL = "[ \\\\t\\\\n\\\\r\\\\f]+"


def tokens(text: Column) -> Column:
    """Whitespace tokenization of lowercased text (JVM split,
    explicit whitespace class — see WS_CLASS)."""
    return F.split(F.trim(F.lower(text)), WS_CLASS)


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("bigint")


def token_stats(text_col: str) -> Column:
    """Fused (n_tokens, n_distinct_tokens, n_subword_tokens) struct.

    The three per-column functions above each call ``tokens(...)``;
    CollapseProject inlines a shared token-array projection into every
    consumer, so the text is re-split once per statistic. This variant
    binds the token array ONCE via the ``transform(array(...), toks ->
    ...)[0]`` let-binding idiom (same trick as word_ngrams_sql) and
    computes all three counts over that binding — one split per row."""
    return F.expr(
        f"""transform(array(split(trim(lower({text_col})), '{WS_CLASS_SQL}')), toks ->
              struct(
                CAST(size(toks) AS BIGINT) AS n_tokens,
                CAST(size(array_distinct(toks)) AS BIGINT)
                    AS n_distinct_tokens,
                aggregate(toks, CAST(0 AS BIGINT),
                          (acc, t) -> acc + CAST(ceil(length(t) / 4) AS BIGINT))
                    AS n_subword_tokens))[0]"""
    )


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are punctuation."""
    punct = F.length(F.regexp_replace(text, r"[^.,!?;:'\"]", ""))
    return F.round(punct / F.greatest(F.length(text), F.lit(1)), 6)


def stopword_count(text: Column, stopwords: tuple[str, ...] = ("the", "a", "of", "and")) -> Column:
    """Count of stopword tokens via a JVM filter lambda."""
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(
        F.filter(tokens(text), lambda t: F.array_contains(sw, t))
    ).cast("bigint")


def avg_token_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(total / F.greatest(F.size(toks), F.lit(1)), 6)


def quality_token_stats(
    text_col: str, stopwords: tuple[str, ...] = ("the", "a", "of", "and")
) -> Column:
    """Fused (n_stopwords, avg_token_len) struct over ONE let-bound
    token array (see token_stats — avg_token_len alone evaluates
    tokens() twice, stopword_count a third time without this)."""
    sw = ", ".join(f"'{s}'" for s in stopwords)
    return F.expr(
        f"""transform(array(split(trim(lower({text_col})), '{WS_CLASS_SQL}')), toks ->
              struct(
                CAST(size(filter(toks, t -> array_contains(array({sw}), t)))
                     AS BIGINT) AS n_stopwords,
                round(aggregate(toks, CAST(0.0 AS DOUBLE),
                                (acc, t) -> acc + CAST(length(t) AS DOUBLE))
                      / greatest(size(toks), 1), 6) AS avg_token_len))[0]"""
    )


def gopher_repetition_stats(text_col: str) -> Column:
    """Gopher-style repetition quality metrics (Rae et al. 2021,
    arXiv:2112.11446 §A1.1) as one fused per-row struct:

    - ``dup_word_frac``: fraction of word occurrences that are repeats
      (1 - distinct/total).
    - ``top_2gram_char_frac``: fraction of token characters covered by
      the single most frequent word 2-gram (Gopher threshold 0.20).
    - ``dup_3gram_char_frac``: fraction of token characters covered by
      word 3-grams occurring more than once (Gopher threshold 0.18).
      Like the public reimplementations, overlap between occurrences is
      counted per occurrence (count x gram length), not deduplicated.

    All JVM-side lambda expressions over ONE let-bound token array —
    a narrow map, zero shuffles; runs at parquet-scan speed at 100 TB.
    Per-row cost is O(distinct-grams x grams) from the count-by-filter
    step, fine for web-document lengths; a numpy ``mapInPandas``
    backend (Counter per row) is the escape hatch if corpora carry
    book-length rows (same pattern as functions/dedup.py backends).

    Gram chars exclude the joining spaces (length(g) - (n-1)) so the
    numerator is comparable to ``total_chars`` = sum of token lengths.
    """
    return F.expr(
        f"""transform(array(split(trim(lower({text_col})), '{WS_CLASS_SQL}')), toks ->
          transform(array(named_struct(
              'g2', if(size(toks) < 2, array(),
                       transform(sequence(1, size(toks) - 1),
                                 i -> concat(toks[i-1], ' ', toks[i]))),
              'g3', if(size(toks) < 3, array(),
                       transform(sequence(1, size(toks) - 2),
                                 i -> concat(toks[i-1], ' ', toks[i], ' ', toks[i+1]))),
              'total_chars', aggregate(toks, CAST(0 AS BIGINT),
                                       (a, t) -> a + length(t)),
              'n_toks', size(toks),
              'n_distinct', size(array_distinct(toks))
            )), b ->
            named_struct(
              'dup_word_frac',
              round(CAST(1.0 AS DOUBLE) - b.n_distinct / greatest(b.n_toks, 1), 6),
              'top_2gram_char_frac',
              round(coalesce(array_max(transform(array_distinct(b.g2),
                        g -> size(filter(b.g2, x -> x = g)) * (length(g) - 1))), 0)
                    / greatest(b.total_chars, 1), 6),
              'dup_3gram_char_frac',
              round(aggregate(transform(array_distinct(b.g3),
                        g -> named_struct('c', size(filter(b.g3, x -> x = g)),
                                          'l', length(g) - 2)),
                        CAST(0 AS BIGINT),
                        (a, s) -> a + if(s.c > 1, CAST(s.c * s.l AS BIGINT),
                                         CAST(0 AS BIGINT)))
                    / greatest(b.total_chars, 1), 6)))[0])[0]"""
    )


def lang_guess(text: Column) -> Column:
    """Deterministic marker-word language heuristic (JVM CASE chain).

    Checks each language's marker vocabulary in a fixed order; falls
    back to 'en'. SQL-expressible, so it carries a DuckDB oracle.
    """
    toks = tokens(text)
    expr = F.lit("en")
    # Build the CASE chain in reverse so earlier languages win ties.
    for lang in reversed(list(LANG_MARKERS)):
        markers = LANG_MARKERS[lang]
        sw = F.array(*[F.lit(m) for m in markers])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        expr = F.when(hits >= 2, F.lit(lang)).otherwise(expr)
    return expr


def rolling_fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the normalized token stream —
    whitespace-insensitive exact-dup detection key."""
    return F.md5(F.array_join(tokens(text), " "))


def char_entropy_sql(text_col: str) -> str:
    """SQL for the Shannon entropy (bits) of a document's CHARACTER
    distribution — the low-entropy tail is machine-generated /
    repetitive boilerplate, the high-entropy tail is binary-ish noise;
    both are standard quality-filter cut points (the signal zlib-ratio
    filters approximate, computed exactly and row-locally).

    Entirely JVM higher-order functions, zero shuffle: chars →
    sort_array → run-end positions (filter over the index sequence) →
    one aggregate folding -Σ (L/n)·log2(L/n) over run lengths carried
    as (prev_end, acc) struct state.  The sorted char array is
    LET-bound via the transform(array(...))[0] trick so it is built
    once per row (see word_ngrams_sql in functions/dedup.py for the
    measured cost of skipping it).  NULL for empty text (entropy of
    nothing is undefined; also keeps sequence(1, 0) — which Spark
    interprets as a DESCENDING range — out of the plan)."""
    return f"""
    CASE WHEN length({text_col}) = 0 THEN CAST(NULL AS DOUBLE) ELSE
      transform(array(sort_array(transform(sequence(1, length({text_col})),
                                 i -> substring({text_col}, i, 1)))), cs ->
        aggregate(
          filter(sequence(1, size(cs)),
                 i -> i = size(cs) OR element_at(cs, i) != element_at(cs, i + 1)),
          named_struct('prev', 0, 'acc', cast(0.0 as double)),
          (s, e) -> named_struct(
            'prev', e,
            'acc', s.acc - ((e - s.prev) / cast(size(cs) as double))
                   * log2((e - s.prev) / cast(size(cs) as double))),
          s -> s.acc
        ))[0]
    END"""


def char_entropy(text_col: str) -> Column:
    """Column form of :func:`char_entropy_sql`."""
    return F.expr(char_entropy_sql(text_col))


@F.pandas_udf(DoubleType())
def char_entropy_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched character-entropy — the SCALE path q_quality_entropy
    uses.  The pure-JVM HOF chain (char_entropy_sql) runs interpreted
    (higher-order functions get no codegen) and measured ×117 wall at
    the 10× stress (×47 char volume): a per-row O(L log L) interpreted
    sort is the wrong engine for char-bound compute.  Counter counts a
    string in C; entropy folds over ≤ alphabet-size terms — linear in
    characters, ~100× the HOF chain's throughput, identical values
    (parity pinned against char_entropy_sql AND the relational DuckDB
    oracle in tests).  Same pattern as lang_id_ngram above: Python is
    fine when it is vectorized and the compute is genuinely row-local."""
    import math
    from collections import Counter

    def one(s):
        if s is None or len(s) == 0:
            return None
        n = len(s)
        acc = 0.0
        for k in Counter(s).values():
            p = k / n
            acc -= p * math.log2(p)
        return acc

    return texts.map(one)


@F.pandas_udf(StringType())
def lang_id_ngram(texts: pd.Series) -> pd.Series:
    """Arrow-batched character-trigram language IDer (the pandas-UDF
    escape hatch; rows-only — not SQL-expressible). Profiles are tiny
    and inline; vectorized over each Arrow batch."""
    profiles = {
        "en": {"the", " th", "he ", "ing", "and"},
        "de": {"der", "ein", "sch", "und", "ich"},
        "fr": {"les", "de ", "ent", "une", "est"},
        "es": {"los", "de ", "que", "ión", "ent"},
    }

    def guess(t: str) -> str:
        if not t:
            return "en"
        t = t.lower()
        grams = {t[i : i + 3] for i in range(len(t) - 2)}
        # start at 0 so a no-signal text (zero matching trigrams) keeps
        # the 'en' default instead of the alphabetically-first language
        best, best_score = "en", 0
        for lang in sorted(profiles):
            score = len(grams & profiles[lang])
            if score > best_score:
                best, best_score = lang, score
        return best

    return texts.map(guess)
