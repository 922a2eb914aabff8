"""Text-analysis operators over the ``documents`` table.

Training-data-pipeline layer: language-ID, quality and repetition
scoring, token counting (:func:`token_count` words,
:func:`bpe_token_count` BPE-ish), document fingerprinting, cleanup, and
the word-shingle coverage signals (benchmark contamination, cross-doc
duplicate coverage). Every word-level operator splits text with one
word-array expression (:func:`_words`) and both shingle operators share
one shingle explode and one per-document coverage tail. Everything here
is JVM-side ``pyspark.sql.functions`` expressions — whole-stage-codegen
friendly, no Python in the hot path — so each also has an exact ANSI-SQL
oracle in ``__spark_entry__.oracle_sql``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import normalized_text
from .partitioning import fan_out

# Tiny per-language stopword marker lists for the n-gram/stopword heuristic
# language-ID. The testdata 'lang' column is synthetic, so the honest design
# is a deterministic heuristic both Spark and the SQL oracle can express.
_STOP_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "es": ["el", "los", "que"],
    "fr": ["le", "les", "des"],
}

# BPE-ish lexer: word pieces (letter runs, with contraction tails),
# digit runs, and each punctuation mark as its own token — the usual
# pre-tokenization shape of byte-pair encoders.
TOKEN_RE = r"[a-zA-Z]+(?:'[a-z]+)?|[0-9]+|[^a-zA-Z0-9\s]"


def _words(c: Column) -> Column:
    """The non-empty whitespace-separated words of ``c``; callers that
    lowercase pass ``F.lower(...)``."""
    return F.filter(F.split(c, r"\s+"), lambda t: F.length(t) > 0)


def token_count(col: str = "text") -> Column:
    """Whitespace token count (words)."""
    return F.size(_words(F.col(col)))


def bpe_token_count(col: str = "text") -> Column:
    """BPE-ish token count via regexp_extract_all (JVM, SQL-oracle-able)."""
    return F.size(F.regexp_extract_all(F.col(col), F.lit(TOKEN_RE), F.lit(0)))


def quality_features(df: DataFrame, col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + score.

    The word array is BOUND once as a real column: Catalyst has no
    common-subexpression reuse across higher-order-function lambda bodies,
    so referencing ``split(...)`` in each feature re-tokenized the text
    four times per row (CollapseProject keeps a non-cheap multi-use alias
    materialized, so the bound column is evaluated once)."""
    c = F.col(col)
    bound = fan_out(df).withColumn("_words", _words(c))
    words = F.col("_words")
    n_words = F.size(words)
    n_chars = F.length(c)
    stop = F.array(*[F.lit(w) for w in _STOP_MARKERS["en"]])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop, F.lower(w))))
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    # exact: total word characters / word count. concat_ws over the bound
    # array gets the exact character total in one pass — same value as the
    # per-element fold it replaces, ~O(words) cheaper per row
    mean_word_len = F.length(F.concat_ws("", words)).cast("double") / F.greatest(
        n_words, F.lit(1)
    )
    return (
        bound.withColumn("n_chars", n_chars.cast("long"))
        .withColumn("n_words", n_words.cast("long"))
        .withColumn("stopword_ratio",
                    F.round(n_stop / F.greatest(n_words, F.lit(1)), 6))
        .withColumn("punct_ratio",
                    F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6))
        .withColumn("mean_word_len", F.round(mean_word_len, 6))
        .withColumn(
            "quality_score",
            F.round(
                F.when(n_words < 5, 0.0).otherwise(
                    F.least(n_words / 100.0, F.lit(1.0)) * 0.5
                    + F.when(F.col("stopword_ratio") > 0.01, 0.25).otherwise(0.0)
                    + F.when(F.col("punct_ratio") < 0.2, 0.25).otherwise(0.0)
                ),
                6,
            ),
        )
        .drop("_words")
    )


def lang_id(df: DataFrame, col: str = "text") -> DataFrame:
    """Stopword-marker language ID: argmax of per-language marker hits.

    Ties break by fixed language order (en, de, es, fr) then 'und'
    (undetermined) when no marker hits.
    """
    # bind the word array ONCE (no HOF-lambda CSE in Catalyst: a naive
    # per-language filter(split(...)) re-tokenizes the text 4×)
    out = df.withColumn("_words", _words(F.lower(F.col(col))))
    for lang, markers in _STOP_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out = out.withColumn(
            f"_hits_{lang}",
            F.size(F.filter(F.col("_words"), lambda w: F.array_contains(arr, w))),
        )
    best = F.lit("und")
    best_n = F.lit(0)
    for lang in reversed(list(_STOP_MARKERS)):  # earlier langs win ties
        n = F.col(f"_hits_{lang}")
        best = F.when(n >= F.greatest(best_n, F.lit(1)), F.lit(lang)).otherwise(best)
        best_n = F.greatest(n, best_n)
    out = out.withColumn("lang_pred", best)
    return out.drop("_words", *[f"_hits_{lang}" for lang in _STOP_MARKERS])


def fingerprint(df: DataFrame, col: str = "text") -> DataFrame:
    """Document fingerprint: 64-bit rolling-style hash of the
    whitespace-normalized text (xxhash64 — stable, distributed, cheap)."""
    return df.withColumn("fingerprint", F.xxhash64(normalized_text(col)))


# C0 controls minus \t\n (CR is normalized upstream), C1 controls, and
# the zero-width/format characters that survive most scrapes
_CTRL_RE = ("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f"
            "\u200b-\u200d\ufeff]")
# UTF-8-read-as-Latin-1 mojibake: a 'Ã' lead byte followed by a
# continuation-range character — the classic double-decode signature
_MOJIBAKE_RE = "\u00c3[\u0080-\u00bf]"


def text_cleanup(df: DataFrame, id_col: str = "doc_id",
                 col: str = "text") -> DataFrame:
    """C4/Gopher-style corpus cleanup: strip control + zero-width
    characters, collapse whitespace runs, and emit repair signals —
    ``n_ctrl`` (characters stripped), ``n_mojibake`` (UTF-8-as-Latin-1
    double-decode signatures), and the cleaned text. Pure JVM
    ``regexp_replace``/``length`` expressions: zero shuffle, zero Python,
    whole-stage codegen — the same scan-local posture as
    :func:`quality_features`."""
    c = F.col(col)
    stripped = F.regexp_replace(c, _CTRL_RE, "")
    cleaned = F.trim(F.regexp_replace(stripped, r"\s+", " "))
    n_ctrl = F.length(c) - F.length(stripped)
    n_moji = F.size(
        F.regexp_extract_all(c, F.lit(_MOJIBAKE_RE), F.lit(0))
    )
    # project to the two consumed columns BEFORE the fan_out exchange
    # (guide §2.3: shuffle fewer bytes)
    return fan_out(df.select(id_col, col)).select(
        F.col(id_col),
        cleaned.alias("clean_text"),
        n_ctrl.cast("bigint").alias("n_ctrl"),
        n_moji.cast("bigint").alias("n_mojibake"),
        (F.length(c) - F.length(cleaned)).cast("bigint").alias("n_removed"),
    )


def repetition_features(
    df: DataFrame, id_col: str = "doc_id", col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals per document:

    - ``n_words`` — whitespace token count
    - ``n_distinct`` — distinct words
    - ``distinct_ratio`` — n_distinct / n_words (low ⇒ repetitive)
    - ``top_word_share`` — most-frequent-word count / n_words

    Shape: every signal is document-local, so everything is a per-row
    JVM expression over the bound word array — **zero shuffle** (the
    round-3 explode + two-level aggregate exchanged ~corpus-sized word
    rows for a metric the scan can compute in place; at 100 TB that
    shuffle was the whole cost). The top-word count comes from the max
    run length of the sorted array — a single O(n log n) ``array_sort``
    + O(n) ``aggregate`` fold, fully inside whole-stage codegen, no
    Python. Docs with no words get (0, 0, null, null).
    """
    bound = df.withColumn("_words", _words(F.lower(F.col(col))))
    words = F.col("_words")
    n_words = F.size(words).cast("bigint")
    n_distinct = F.size(F.array_distinct(words)).cast("bigint")
    # max run length over the sorted words == count of the most frequent
    # word. Accumulator (prev, run, best); '' sentinel can't collide —
    # empty words are filtered out above.
    top = F.aggregate(
        F.array_sort(words),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("best"),
        ),
        lambda a, w: F.struct(
            w.alias("prev"),
            F.when(w == a.prev, a.run + 1).otherwise(F.lit(1).cast("bigint"))
             .alias("run"),
            F.greatest(
                a.best,
                F.when(w == a.prev, a.run + 1)
                 .otherwise(F.lit(1).cast("bigint")),
            ).alias("best"),
        ),
        lambda a: a.best,
    )
    return bound.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct"),
        F.when(n_words > 0, n_distinct / n_words).alias("distinct_ratio"),
        F.when(n_words > 0, top / n_words).alias("top_word_share"),
    )


def _shingles(frame: DataFrame, n: int, col: str, out: str,
              *keep: str) -> DataFrame:
    """One row per word ``n``-gram shingle of the lowercased ``col``,
    named ``out``, with the ``keep`` columns carried along. Documents
    with fewer than ``n`` words yield no rows."""
    words = frame.select(*keep, _words(F.lower(F.col(col))).alias("_w"))
    # guard: Spark's sequence(1, 0) counts DOWN ([1, 0]) — short docs must
    # yield an empty shingle array, not two bogus positions
    idx = F.when(
        F.size("_w") >= n, F.sequence(F.lit(1), F.size("_w") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return words.select(
        *keep,
        F.explode(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice("_w", i, n)))
        ).alias(out),
    )


def _coverage(df: DataFrame, shingles: DataFrame, hit: Column, id_col: str,
              n_hit: str, frac: str) -> DataFrame:
    """Per document: ``n_shingles``, ``n_hit`` (the shingles where ``hit``
    is 1) and ``frac`` = n_hit / n_shingles. Documents of ``df`` with no
    shingle rows come back as (0, 0, null) via a left-anti join against
    the aggregated ids."""
    cov = shingles.groupBy(id_col).agg(
        F.count("*").alias("n_shingles"), F.sum(hit).alias(n_hit)
    )
    out = cov.select(
        id_col,
        "n_shingles",
        n_hit,
        (F.col(n_hit) / F.col("n_shingles")).alias(frac),
    )
    empty = df.join(out, id_col, "left_anti").select(
        F.col(id_col),
        F.lit(0).cast("bigint").alias("n_shingles"),
        F.lit(0).cast("bigint").alias(n_hit),
        F.lit(None).cast("double").alias(frac),
    )
    return out.unionByName(empty)


def benchmark_contamination(
    df: DataFrame,
    bench: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    col: str = "text",
) -> DataFrame:
    """Eval-set decontamination signal: the fraction of each training
    document's word ``n``-gram shingles that appear anywhere in the
    benchmark corpus ``bench`` (same text column). Standard pre-training
    hygiene — documents above a contamination threshold are dropped or
    span-scrubbed before training.

    Plan: the benchmark's distinct shingles are a SMALL relation →
    ``F.broadcast`` left join against the training side's exploded
    shingles; no shuffle of the big side beyond the per-doc re-aggregate.
    At 100 TB the bench set stays broadcastable (eval suites are MBs).
    """
    bench_sh = (
        _shingles(bench, n, col, "_bs")
        .distinct()
        .select("_bs", F.lit(1).alias("_hit"))
    )
    doc_sh = _shingles(df, n, col, "_s", id_col).distinct()
    joined = doc_sh.join(
        F.broadcast(bench_sh), F.col("_s") == F.col("_bs"), "left"
    )
    return _coverage(df, joined, F.coalesce(F.col("_hit"), F.lit(0)), id_col,
                     "n_contaminated", "contamination")


def dup_shingle_coverage(
    df: DataFrame, n: int = 5, id_col: str = "doc_id", col: str = "text"
) -> DataFrame:
    """Cross-document duplicate coverage: the fraction of a document's
    word ``n``-gram shingles that also occur in at least one OTHER
    document (the C4/Gopher 'how much of this text exists elsewhere'
    signal that drives span-level dedup decisions).

    Plan: explode shingles → distinct per (doc, shingle) → global count
    per shingle (map-side combine) → join back → per-doc fraction. Two
    shuffles (shingle key, then doc key); shingle keys are xxhash64-able
    for byte-bounded exchange at corpus scale. Documents with fewer than
    ``n`` words report null coverage.
    """
    # one vote per (doc, shingle)
    shingles = _shingles(df, n, col, "_s", id_col).distinct()
    global_counts = shingles.groupBy("_s").agg(F.count("*").alias("_docs"))
    joined = shingles.join(global_counts, "_s")
    return _coverage(df, joined, F.when(F.col("_docs") > 1, 1).otherwise(0),
                     id_col, "n_dup", "dup_coverage")
