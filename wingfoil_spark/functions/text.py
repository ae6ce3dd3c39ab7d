"""Text-analysis operators for LLM training-data pipelines.

All hot-path logic is built-in Spark SQL expressions (JVM-side, codegen,
shuffle-free per-row) — no Python UDFs. Every function here has an exact
ANSI-SQL twin used as its DuckDB oracle (see __spark_entry__.oracle_sql),
so each construct is restricted to the cross-engine-identical subset:
split/lower/trim, lambda array ops, md5, length arithmetic.

Pattern follows the reference's augurs compute-adapter shape (window in →
derived struct column out, /root/reference/crates/wingfoil/src/adapters/
augurs.rs:441-459) applied to text instead of time series.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword inventories (public common-word lists).
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "den", "von", "mit"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "de", "du", "pour"),
    "es": ("el", "los", "las", "que", "y", "es", "por", "una", "para", "con"),
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization, empty-token free. Lambda-free on purpose:
    a Python lambda costs a lambda-variable registration exchange with
    the JVM on every call, and every selection, dedup and text builder
    tokenizes."""
    return F.array_remove(F.split(F.lower(F.trim(col)), r"\s+"), "")


def _toks(col: Column, toks: Column | None) -> Column:
    """Every token-derived expression takes an optional pre-tokenized
    array. This matters in fused multi-stat projections: Spark's
    subexpression elimination SKIPS lambda-bearing expressions
    (EquivalentExpressions excludes LambdaVariable trees), so a battery
    of ~10 token stats re-runs the regex split per stat per row unless
    the caller tokenizes ONCE into a column and passes it here (a
    separate projection alias is not collapsed back in — CollapseProject
    keeps non-cheap aliases referenced more than once). Measured 1.6x on
    the full text battery at the 100x scale tier."""
    return toks if toks is not None else tokens(col)


def token_count(col: Column, toks: Column | None = None) -> Column:
    return F.size(_toks(col, toks))


def char_count(col: Column) -> Column:
    return F.length(col)


def avg_token_len(col: Column, toks: Column | None = None) -> Column:
    """Mean token length in double arithmetic (identical op order in the
    SQL twin: sum of lengths / count)."""
    t = _toks(col, toks)
    total = F.aggregate(t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
    # try_divide: a zero-token doc means 0/0 — NULL, not an ANSI abort
    # (one empty doc in a 100 TB scan must not kill the job); DuckDB's
    # x/0 is NULL too, so the oracle twin needs no change
    return F.try_divide(total.cast("double"), F.size(t).cast("double"))


def stopword_count(col: Column, lang: str = "en",
                   toks: Column | None = None) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(_toks(col, toks), lambda x: x.isin(*words)))


def stopword_ratio(col: Column, lang: str = "en",
                   toks: Column | None = None) -> Column:
    t = _toks(col, toks)
    # try_divide: NULL (not an ANSI abort) on a zero-token doc
    return F.try_divide(
        stopword_count(col, lang, toks=t).cast("double"),
        token_count(col, toks=t).cast("double"),
    )


#: the punct keep-class, spelled out for translate()
_ALNUM_SPACE = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 "
)


def punct_count(col: Column) -> Column:
    """Count of chars outside [a-zA-Z0-9 ] — computed as
    ``length(translate(col, keep_chars, ''))`` (delete the keep class,
    count what remains). Value-identical to the regex formulation
    ``length(col) - length(regexp_replace(col, '[^a-zA-Z0-9 ]', ''))``
    (verified 0 mismatches at the 100x scale tier), but ~50x faster:
    Spark 4's collation-aware regex engine costs ~28s on 500k docs where
    the per-char translate lookup costs 0.5s — this one expression was
    55% of the whole text_stats battery. The DuckDB oracle keeps the
    regex form; both count the same characters."""
    return F.length(F.translate(col, _ALNUM_SPACE, ""))


def punct_ratio(col: Column) -> Column:
    # try_divide: NULL (not an ANSI abort) on an empty string
    return F.try_divide(
        punct_count(col).cast("double"), F.length(col).cast("double")
    )


def quality_score(col: Column, toks: Column | None = None) -> Column:
    """Heuristic doc-quality score in [0,1]: stopword presence + length
    sufficiency + low punctuation noise. Formula is part of the public API
    (and of the oracle SQL) — keep the exact op order."""
    t = _toks(col, toks)
    return (
        F.lit(0.4) * stopword_ratio(col, toks=t)
        + F.lit(0.3) * F.least(F.lit(1.0), token_count(col, toks=t).cast("double") / F.lit(100.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio(col))
    )


def lang_id(col: Column, toks: Column | None = None) -> Column:
    """N-gram-free language ID heuristic: stopword vote among
    {en, de, fr, es}; ties resolve en > de > fr > es (es appended last so
    the r4 extension changes no pre-existing tie outcome). The es list
    avoids forms shared with fr ('la', 'un', 'de', 'en') so the vote
    stays discriminative."""
    t = _toks(col, toks)
    en = stopword_count(col, "en", toks=t)
    de = stopword_count(col, "de", toks=t)
    fr = stopword_count(col, "fr", toks=t)
    es = stopword_count(col, "es", toks=t)
    return (
        F.when((en >= de) & (en >= fr) & (en >= es), F.lit("en"))
        .when((de >= fr) & (de >= es), F.lit("de"))
        .when(fr >= es, F.lit("fr"))
        .otherwise(F.lit("es"))
    )


def fingerprint(col: Column) -> Column:
    """Whitespace-normalized md5 document fingerprint (exact-dedup key)."""
    return F.md5(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "))


def chunk_tokens(
    df,
    size: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    toks_col: str | None = None,
):
    """Split documents into overlapping token-window chunks — the standard
    pretraining/RAG corpus step between curation and sharding. Chunk i
    covers tokens [i·stride, i·stride + size) with stride = size − overlap;
    every doc yields ≥1 chunk (a short doc is its own chunk), and the last
    chunk may be short — docs are never padded.

    Pure Catalyst: tokenize once, posexplode a chunk-index sequence, slice
    the token array per chunk — row-local (the explode multiplies rows
    ~n_tokens/stride but shuffles nothing). Output: (id, chunk_id,
    chunk_text, n_chunk_tokens). Integer-exact chunk arithmetic, so the
    DuckDB twin reproduces the chunking bit-for-bit.
    """
    if overlap >= size:
        raise ValueError("overlap must be < size")
    stride = size - overlap
    # NULL text chunks like the empty string (one empty 0-token chunk) —
    # without the coalesce, greatest/least skip the null arithmetic and
    # fabricate a phantom size-`size` chunk. toks_col = a precomputed
    # token array (share one tokenize across several curation steps).
    t = F.coalesce(
        F.col(toks_col) if toks_col else tokens(F.col(text_col)),
        F.array().cast("array<string>"),
    )
    d = df.select(F.col(id_col), t.alias("__toks"))
    # integer ceil-div via `div` (float division would mis-round big counts)
    n_chunks = F.greatest(
        F.lit(1).cast("long"),
        F.expr(f"(size(__toks) - {overlap} + {stride - 1}) div {stride}"),
    )
    exploded = d.select(
        id_col,
        "__toks",
        F.posexplode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)),
    ).select(
        id_col, "__toks", F.col("col").alias("chunk_id")
    )
    start = F.col("chunk_id") * stride  # 0-based token offset
    return exploded.select(
        id_col,
        "chunk_id",
        F.array_join(F.slice("__toks", start + 1, size), " ").alias("chunk_text"),
        F.least(F.lit(size).cast("long"), F.size("__toks") - start).cast("long").alias("n_chunk_tokens"),
    )


# ---- repetition / boilerplate signals (public C4- and Gopher-style rules:
# high duplicate-line share and single-token dominance mark low-quality,
# template, or degenerate documents)


def lines(col: Column) -> Column:
    """Non-empty trimmed lines."""
    return F.filter(
        F.transform(F.split(col, r"\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )


def duplicate_line_ratio(col: Column) -> Column:
    """1 − distinct_lines/lines ∈ [0,1); 0 for ≤1-line docs. The C4-style
    boilerplate signal (repeated nav/footer lines)."""
    ls = lines(col)
    n = F.size(ls)
    return F.when(n <= 1, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(ls)).cast("double") / n.cast("double")
    )


def top_token_ratio(col: Column, toks: Column | None = None) -> Column:
    """Most-frequent-token share of all tokens ∈ (0,1]; 0 for token-less
    docs. The Gopher-style degeneracy signal (a single token dominating).

    Computed as the longest equal-run in the SORTED token array — one
    O(n log n) aggregate pass instead of the previous O(distinct × n)
    nested transform/filter (the max run length in a sorted array IS the
    max token count, so the VALUE is unchanged and the DuckDB oracle's
    count formulation still matches exactly; measured ~3x on this column
    at the 100x scale tier)."""
    t = _toks(col, toks)
    run = F.aggregate(
        F.array_sort(t),
        F.struct(
            F.lit(0).alias("best"),
            F.lit(0).alias("cur"),
            F.lit(None).cast("string").alias("prev"),
        ),
        lambda acc, x: F.struct(
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["cur"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
            F.when(x == acc["prev"], acc["cur"] + 1)
            .otherwise(F.lit(1))
            .alias("cur"),
            x.alias("prev"),
        ),
        lambda acc: acc["best"],
    )
    return F.when(F.size(t) == 0, F.lit(0.0)).otherwise(
        run.cast("double") / F.size(t).cast("double")
    )


def repetition_filter(
    col: Column,
    max_dup_line_ratio: float = 0.3,
    max_top_token_ratio: float = 0.2,
    min_tokens: int = 3,
) -> Column:
    """Boolean keep-predicate combining the public repetition rules:
    thresholds per the C4 / Gopher quality heuristics (tunable). True =
    the doc passes."""
    return (
        (duplicate_line_ratio(col) <= max_dup_line_ratio)
        & (top_token_ratio(col) <= max_top_token_ratio)
        & (token_count(col) >= min_tokens)
    )


def scrub_pii(
    col: Column,
    email: str = "<EMAIL>",
    phone: str = "<PHONE>",
    ip: str = "<IP>",
) -> Column:
    """Mask the three classic PII shapes — emails, phone numbers, IPv4
    addresses — with placeholder tokens (the standard pre-training scrub;
    placeholders keep token positions roughly stable for chunking).

    Deliberately conservative explicit-class regexes (no \\w/\\d
    shorthand) so the semantics are engine-portable and auditable:
    - email: local@domain.tld with [A-Za-z0-9._%+-] local parts
    - phone: 7+ digit runs allowing separators, optional +country
    - ipv4: four 1-3 digit octets

    Order matters: emails first (their domains contain dots that the IP
    pattern could clip), then IPs, then phones.
    """
    out = F.regexp_replace(
        col,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
        email,
    )
    out = F.regexp_replace(
        out,
        "([0-9]{1,3}\\.){3}[0-9]{1,3}",
        ip,
    )
    out = F.regexp_replace(
        out,
        "\\+?[0-9][0-9()\\- ]{5,}[0-9]",
        phone,
    )
    return out


def gopher_quality_flags(
    col: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> Column:
    """The published Gopher document-quality rules (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", App. A1.1 — public filter
    thresholds, the de-facto standard corpus gate) as a struct of
    per-rule booleans plus the conjunction, all pure Catalyst:

    - ``word_count``: ``min_words ≤ #words ≤ max_words``;
    - ``mean_word_len``: mean word length in ``[3, 10]``;
    - ``symbol_ratio``: (# of ``#`` or ``...``) / words ≤ 0.1;
    - ``bullet_lines``: < 90% of lines start with a bullet;
    - ``ellipsis_lines``: < 30% of lines end with "...";
    - ``alpha_words``: ≥ 80% of words contain ≥ one alphabetic char;
    - ``stop_words``: ≥ 2 hits from the tiny stopword inventory (the
      paper's the/be/to/of/and/that/have/with set — ours reuses
      :data:`STOPWORDS`);
    - ``keep``: every rule passed.

    Shape mirrors the augurs compute-adapter pattern: one struct column
    out, row-local, zero shuffle, no Python. Thresholds are the paper's,
    overridable per corpus."""
    t = tokens(col)
    n = F.size(t)
    nd = n.cast("double")
    ls = lines(col)
    nl = F.size(ls)
    mean_len = F.when(n == 0, F.lit(0.0)).otherwise(
        F.aggregate(t, F.lit(0).cast("long"),
                    lambda a, x: a + F.length(x).cast("long"))
        .cast("double") / nd
    )
    symbols = (
        F.length(col) - F.length(F.regexp_replace(col, "#", ""))
        + (F.length(col) - F.length(F.regexp_replace(col, r"\.\.\.", ""))) / F.lit(3)
    )
    bullet = F.size(F.filter(
        ls, lambda x: x.rlike("^([-*•‣◦]|[0-9]+[.)])")
    ))
    ellipsis = F.size(F.filter(ls, lambda x: x.endswith("...")))
    alpha = F.size(F.filter(t, lambda x: x.rlike("[a-z]")))
    stops = stopword_count(col)
    flags = {
        "word_count": (n >= min_words) & (n <= max_words),
        "mean_word_len": (mean_len >= min_mean_word_len)
                         & (mean_len <= max_mean_word_len),
        "symbol_ratio": F.when(n == 0, F.lit(False)).otherwise(
            symbols.cast("double") / nd <= max_symbol_word_ratio
        ),
        "bullet_lines": F.when(nl == 0, F.lit(True)).otherwise(
            bullet.cast("double") / nl.cast("double") < max_bullet_line_ratio
        ),
        "ellipsis_lines": F.when(nl == 0, F.lit(True)).otherwise(
            ellipsis.cast("double") / nl.cast("double")
            < max_ellipsis_line_ratio
        ),
        "alpha_words": F.when(n == 0, F.lit(False)).otherwise(
            alpha.cast("double") / nd >= min_alpha_word_ratio
        ),
        "stop_words": stops >= min_stop_hits,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return F.struct(
        *[v.alias(k) for k, v in flags.items()], keep.alias("keep")
    )
